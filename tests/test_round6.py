"""Round-6 additions: streaming cluster, bounded kernel-gate collects,
char-union opt-out, exact mixture arithmetic, sentinel-safe expand
midpoints, and the small-input closest-binned gate."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

import bioframe_spark as bf
from bioframe_spark.streaming import stream_ops


# --------------------------------------------------------------------------
# stream_cluster (r5 verdict directive #6): completes the streaming
# window family — per-chrom row snapshots with cluster ids
# --------------------------------------------------------------------------

def _drive_cluster(spark, tmp_path, batches, min_dist=0):
    src = tmp_path / "iv_cluster_stream"
    src.mkdir(parents=True)
    schema = "chrom string, start long, end long"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"f{i}"))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(str(src / "*")))
    snap = {}

    def capture(bdf, _bid):
        pdf = bdf.toPandas()
        for chrom, grp in pdf.groupby("chrom"):
            snap[chrom] = sorted(
                (int(s), int(e), int(n), int(c), int(cs), int(ce))
                for s, e, n, c, cs, ce in zip(
                    grp["start"], grp["end"], grp["n_copies"],
                    grp["cluster"], grp["cluster_start"],
                    grp["cluster_end"]))

    q = (stream_ops.stream_cluster(stream, min_dist=min_dist)
         .writeStream.foreachBatch(capture).outputMode("update")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    q.stop()
    return snap


def test_stream_cluster_live_matches_batch_replay(spark, tmp_path):
    """Final per-chrom snapshot == batch bf.cluster of every injected
    row (ids normalized: stream ids are per-chrom dense, batch global;
    both order islands by start, so the (chrom, cluster) pairs must
    biject and the spans/multiplicities must match exactly)."""
    b1 = [("chr1", 0, 50), ("chr1", 40, 90), ("chr2", 10, 20),
          ("chr1", 300, 320), ("chr1", 300, 320)]
    b2 = [("chr1", 85, 120), ("chr1", 200, 210), ("chr2", 15, 35),
          ("chr1", 290, 310)]
    snap = _drive_cluster(spark, tmp_path, [b1, b2], min_dist=0)

    got = sorted((c, s, e, n, cl, cs, ce)
                 for c, rows in snap.items()
                 for s, e, n, cl, cs, ce in rows)
    # exploded multiplicities with per-chrom-normalized ids
    got_rows = sorted((c, s, e, cl, cs, ce)
                      for c, s, e, n, cl, cs, ce in got for _ in range(n))

    want_df = bf.cluster(
        spark.createDataFrame(b1 + b2, "chrom string, start long, end long"),
        min_dist=0)
    # normalize batch's global ids to per-chrom dense ordinals by start
    wpdf = want_df.toPandas()
    wpdf["cluster"] = (wpdf.groupby("chrom")["cluster"]
                       .rank(method="dense").astype("int64") - 1)
    want_rows = sorted(
        (r.chrom, int(r.start), int(r.end), int(r.cluster),
         int(r.cluster_start), int(r.cluster_end))
        for r in wpdf.itertuples(index=False))
    assert got_rows == want_rows
    # the cross-batch fusion happened: 290-310 (batch 2) fused the
    # duplicate 300-320 pair into one island spanning 290-320
    assert ("chr1", 300, 320, 2, 2, 290, 320) in [
        ("chr1",) + r for r in snap["chr1"]]


def test_stream_cluster_arrival_order_invariance(spark, tmp_path):
    """The snapshot is a pure function of the row set: reversed batch
    order yields the identical final snapshot."""
    b1 = [("chr1", 0, 10), ("chr1", 9, 30), ("chr1", 100, 110)]
    b2 = [("chr1", 25, 40), ("chr1", 108, 120), ("chr1", 500, 501)]
    s1 = _drive_cluster(spark, tmp_path / "a", [b1, b2])
    s2 = _drive_cluster(spark, tmp_path / "b", [b2, b1])
    assert s1 == s2


def test_stream_cluster_min_dist_none_rejected(spark):
    stream = (spark.readStream.format("rate").load()
              .select(F.lit("chr1").alias("chrom"),
                      F.col("value").alias("start"),
                      (F.col("value") + 1).alias("end")))
    with pytest.raises(ValueError, match="min_dist"):
        stream_ops.stream_cluster(stream, min_dist=None)


# --------------------------------------------------------------------------
# _bounded_pdf: the kernel-gate collect bound holds on every path
# --------------------------------------------------------------------------

def test_bounded_pdf_post_hoc_cap_without_probe(spark):
    """A frame whose Catalyst estimate is tiny (so the probe job is
    skipped) but whose true row count exceeds the cap must return None,
    not an over-cap frame."""
    from bioframe_spark.operators.ops import _bounded_pdf

    df = spark.range(1000).select(F.col("id").alias("s"))
    assert _bounded_pdf(df, 10) is None
    out = _bounded_pdf(df, 2000)
    assert out is not None and len(out) == 1000


def test_bounded_arrow_keeps_int64_exact(spark):
    from bioframe_spark.operators.ops import _bounded_arrow

    df = spark.createDataFrame(
        [(9223372036854775807,), (5,), (None,)], "v long")
    out = _bounded_arrow(df, 10)
    # Arrow path: int64 sentinels survive exactly (no float round-trip)
    assert sorted(out["v"].to_pylist(), key=str) == [
        5, 9223372036854775807, None]
    assert _bounded_arrow(df, 2) is None


def test_cosine_topk_query_cap_clear_error(spark):
    """An over-cap query set must fail with the redirect message, not an
    opaque driver overflow."""
    from bioframe_spark.datapipe.similarity import cosine_topk

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>")
    spark.conf.set("spark.bioframe.smallInputMaxRows", "5")
    try:
        with pytest.raises(ValueError, match="lsh_bucketed_topk"):
            cosine_topk(emb, emb, k=2)
    finally:
        spark.conf.unset("spark.bioframe.smallInputMaxRows")
    # under the cap it works
    assert cosine_topk(emb.filter("vec_id < 3"), emb, k=2).count() == 6


def test_merge_local_cap_exact_fallback(spark):
    """merge on a small-estimate frame with an overridden tiny row cap
    falls back to the distributed plan (bounded collect returns None)
    and still produces exact islands."""
    rows = [("chr1", i * 10, i * 10 + 5) for i in range(50)]
    df = spark.createDataFrame(rows, "chrom string, start long, end long")
    spark.conf.set("spark.bioframe.smallInputMaxRows", "7")
    try:
        out = bf.merge(df).collect()
    finally:
        spark.conf.unset("spark.bioframe.smallInputMaxRows")
    assert len(out) == 50 and all(r["n_intervals"] == 1 for r in out)


# --------------------------------------------------------------------------
# closest small-input gate: value parity across the gate boundary
# --------------------------------------------------------------------------

def test_closest_binned_gate_parity(spark):
    """Explicit strategy='binned' on a small input (simple global-cap
    ladder) must be value-identical to the cogroup kernel and to the
    forced big path (per-chrom caps via a lowered crossover conf)."""
    import random

    rng = random.Random(7)
    a = [("chr%d" % rng.randint(1, 3), s, s + rng.randint(1, 40))
         for s in (rng.randint(0, 2000) for _ in range(120))]
    b = [("chr%d" % rng.randint(1, 3), s, s + rng.randint(1, 25))
         for s in (rng.randint(0, 2000) for _ in range(80))]
    df1 = spark.createDataFrame(a, "chrom string, start long, end long")
    df2 = spark.createDataFrame(b, "chrom string, start long, end long")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    small = rows(bf.closest(df1, df2, k=2, suffixes=("", "_r"),
                            strategy="binned"))
    cog = rows(bf.closest(df1, df2, k=2, suffixes=("", "_r"),
                          strategy="cogroup"))
    assert small == cog
    spark.conf.set("spark.bioframe.closestCogroupBytes", "1")
    try:
        big = rows(bf.closest(df1, df2, k=2, suffixes=("", "_r"),
                              strategy="binned"))
    finally:
        spark.conf.unset("spark.bioframe.closestCogroupBytes")
    assert big == cog


# --------------------------------------------------------------------------
# negative-saturated start + sentinel end through every closest strategy
# (r5 ADVICE: the driver bin hint's span/bin_size must clamp at INT64_MAX)
# --------------------------------------------------------------------------

def test_closest_negative_saturated_sentinel_all_strategies(spark):
    i64 = 9223372036854775807
    df1 = spark.createDataFrame(
        [("chr1", -i64, i64), ("chr1", 100, 200), ("chr2", 5, 10)],
        "chrom string, start long, end long")
    df2 = spark.createDataFrame(
        [("chr1", 150, 160), ("chr1", 0, i64), ("chr2", 50, 60)],
        "chrom string, start long, end long")
    res = {}
    for strat in ("binned", "cogroup"):
        res[strat] = sorted(map(tuple, bf.closest(
            df1, df2, suffixes=("", "_r"), strategy=strat).collect()))
    spark.conf.set("spark.bioframe.closestCogroupBytes", "1")
    try:
        res["big"] = sorted(map(tuple, bf.closest(
            df1, df2, suffixes=("", "_r"), strategy="binned").collect()))
    finally:
        spark.conf.unset("spark.bioframe.closestCogroupBytes")
    assert res["binned"] == res["cogroup"] == res["big"]
    assert len(res["binned"]) == 3


# --------------------------------------------------------------------------
# char_union opt-out: identical signals, null char column
# --------------------------------------------------------------------------

def test_repetition_char_union_opt_out(spark):
    from bioframe_spark.datapipe import text as dtext

    docs = spark.createDataFrame(
        [(1, "a b c d e a b c d e x y z"), (2, None), (3, "one two")],
        "doc_id long, text string")
    on = dtext.repetition_signals(docs).orderBy("doc_id").collect()
    off = dtext.repetition_signals(docs, char_union=False) \
        .orderBy("doc_id").collect()
    for r_on, r_off in zip(on, off):
        assert r_off["n_dup_ngram_chars"] is None
        for c in ("n_lines", "n_dup_lines", "n_dup_line_chars", "n_ngrams",
                  "n_dup_ngrams", "top_bigram", "top_bigram_count",
                  "top_bigram_chars"):
            assert r_on[c] == r_off[c]
    assert on[0]["n_dup_ngram_chars"] > 0  # the sweep still works when on


def test_gopher_count_measure_skips_sweep_same_other_rules(spark):
    from bioframe_spark.datapipe import text as dtext

    docs = spark.createDataFrame(
        [(1, " ".join(["the quick brown fox jumps over it and the dog"] * 8)),
         (2, " ".join(f"w{i} of" for i in range(60)))],
        "doc_id long, text string")
    chars = dtext.gopher_quality_filter(docs, min_words=10) \
        .orderBy("doc_id").collect()
    count = dtext.gopher_quality_filter(
        docs, min_words=10, dup_ngram_measure="count") \
        .orderBy("doc_id").collect()
    for rc, rn in zip(chars, count):
        for c in ("r_word_count", "r_mean_wordlen", "r_alpha_words",
                  "r_stopwords", "r_dup_lines", "r_dup_line_chars",
                  "r_top_bigram"):
            assert rc[c] == rn[c]
    # doc 1 is fully duplicated: both measures must reject it
    assert chars[0]["r_dup_ngrams"] is False
    assert count[0]["r_dup_ngrams"] is False


# --------------------------------------------------------------------------
# reliable-checkpoint swap for the CC loop (r5 verdict directive #2)
# --------------------------------------------------------------------------

def test_cc_reliable_checkpoint_swap(spark, tmp_path):
    """spark.bioframe.reliableCheckpoint=true + a checkpoint dir routes
    the CC loop's lineage truncation through reliable checkpoint();
    components are identical to the localCheckpoint default, and the
    checkpoint store actually receives files (proving the swap engaged,
    which is what makes the loop survive executor loss —
    tools/executor_loss_check.py measures that on a live cluster)."""
    import os

    from bioframe_spark.datapipe import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id1 long, id2 long")
    want = sorted(map(tuple, dedup.connected_components(
        pairs, strategy="loop").collect()))

    ckdir = str(tmp_path / "ck")
    spark.sparkContext.setCheckpointDir(ckdir)
    spark.conf.set("spark.bioframe.reliableCheckpoint", "true")
    try:
        got = sorted(map(tuple, dedup.connected_components(
            pairs, strategy="loop").collect()))
        wrote = any(files for _, _, files in os.walk(ckdir))
    finally:
        spark.conf.unset("spark.bioframe.reliableCheckpoint")
    assert got == want
    assert wrote  # reliable checkpoint actually persisted blocks


def test_cc_reliable_checkpoint_requires_dir(spark, tmp_path):
    import pytest as _pytest

    from bioframe_spark.datapipe import dedup

    pairs = spark.createDataFrame([(1, 2)], "id1 long, id2 long")
    # a fresh session fixture may carry a checkpoint dir from another
    # test — only assert the error when none is set
    if spark.sparkContext._jsc.sc().getCheckpointDir().isDefined():
        _pytest.skip("session already has a checkpoint dir")
    spark.conf.set("spark.bioframe.reliableCheckpoint", "true")
    try:
        with _pytest.raises(ValueError, match="checkpoint dir"):
            dedup.connected_components(pairs, strategy="loop")
    finally:
        spark.conf.unset("spark.bioframe.reliableCheckpoint")


# --------------------------------------------------------------------------
# exact mixture arithmetic at float boundaries (r5 ADVICE)
# --------------------------------------------------------------------------

def test_mixture_exact_floor_at_boundary(spark):
    """30 rows at share 0.3: exact total is 30/0.3 == 100; float division
    gave 99.999... -> 99. The scarcest stratum defines the total, so the
    wrong floor under-keeps every stratum."""
    from bioframe_spark.datapipe.sampling import sample_to_mixture

    rows = [(i, "a") for i in range(30)] + [(1000 + i, "b")
                                            for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = sample_to_mixture(df, {"a": 0.3, "b": 0.7}, strata_col="source")
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    # total = min(floor(30/0.3), floor(200/0.7)) = min(100, 285) = 100
    assert counts == {"a": 30, "b": 70}


# --------------------------------------------------------------------------
# buffered premerge fuse: value-identical at ANY buffer boundary (r6 —
# the fuse windows grew from per-Arrow-batch to 256k rows)
# --------------------------------------------------------------------------

def test_premerge_buffer_boundaries_exact(spark):
    """merge through the premerge path with the fuse buffer forced to
    1, 2, 7 rows must equal the classic construction exactly — buffer
    edges can only UNDER-fuse, which the global pass repairs (the same
    invariant as partition edges), and coincident points must survive
    as separate islands across buffer boundaries under min_dist=None."""
    import random

    rng = random.Random(11)
    rows = []
    for _ in range(300):
        c = f"chr{rng.randint(1, 3)}"
        s = rng.randint(0, 500)
        rows.append((c, s, s + rng.randint(0, 40)))  # incl. points
    rows += [("chr1", 100, 100)] * 3  # coincident points
    df = spark.createDataFrame(rows, "chrom string, start long, end long")

    for md in (None, 0, 7):
        want = sorted(map(tuple, bf.merge(
            df, min_dist=md, premerge=False, range_width=None).collect()),
            key=str)
        for buf in ("1", "2", "7"):
            spark.conf.set("spark.bioframe.premergeBatchRows", buf)
            try:
                got = sorted(map(tuple, bf.merge(
                    df, min_dist=md, premerge=True,
                    range_width=None).collect()), key=str)
                got_r = sorted(map(tuple, bf.merge(
                    df, min_dist=md, premerge=True,
                    range_width=50).collect()), key=str)
            finally:
                spark.conf.unset("spark.bioframe.premergeBatchRows")
            assert got == want, (md, buf)
            assert got_r == want, (md, buf, "ranged")


# --------------------------------------------------------------------------
# SemDeDup-style semantic dedup (r6): cluster -> in-cluster dup groups ->
# keep the least-prototypical representative
# --------------------------------------------------------------------------

def test_semantic_dedup_keeps_one_per_group(spark):
    from bioframe_spark.datapipe.similarity import semantic_dedup

    # vectors 1/2 are an exact duplicate pair; 3 is a scaled copy of 1
    # (cosine 1.0 — same group); 10/11 are far from everything
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),
        (3, [2.0, 0.0, 0.0, 0.0]),
        (10, [0.0, 1.0, 0.0, 0.0]),
        (11, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: (r["cent_id"], r["keep"])
           for r in semantic_dedup(df, threshold=0.99, n_centroids=3,
                                   train_iters=0).collect()}
    assert len(out) == 5
    kept_dups = [i for i in (1, 2, 3) if out[i][1]]
    assert len(kept_dups) == 1  # exactly one representative of the group
    assert out[10][1] and out[11][1]  # loners keep unconditionally


def test_semantic_dedup_all_rows_tagged_and_loner_only_corpus(spark):
    from bioframe_spark.datapipe.similarity import semantic_dedup

    rows = [(i, [float(i == j) for j in range(8)]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, threshold=0.95, n_centroids=4,
                         train_iters=1).collect()
    assert len(out) == 8 and all(r["keep"] for r in out)


def test_semantic_dedup_matches_reference_on_random_corpora(spark):
    """Differential fuzz: semantic_dedup vs an independent in-python
    reference (same published algorithm, written directly on numpy:
    smallest-id centroid init, top-1 assignment with the (cos desc,
    cent_id asc) tie rule, within-cluster cos>=t graph, union-find
    components, keep = argmin centroid-cos then min id)."""
    import itertools
    import random

    import numpy as np

    from bioframe_spark.datapipe.similarity import QUANT, semantic_dedup

    rng = random.Random(42)
    for trial in range(3):
        n, dim = 40, 6
        base = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(12)]
        rows = []
        for i in range(n):
            src = base[rng.randrange(len(base))]
            # half the rows are scaled/noised copies -> real dup groups
            if rng.random() < 0.5:
                v = [x * rng.uniform(0.5, 2.0) for x in src]
            else:
                v = [x + rng.uniform(-0.5, 0.5) for x in src]
            rows.append((i, v))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {r["vec_id"]: (r["cent_id"], r["keep"]) for r in
               semantic_dedup(df, threshold=0.98, n_centroids=5,
                              train_iters=0).collect()}

        # ---- reference ----
        V = np.array([np.round(np.array(v) * QUANT) for _, v in rows],
                     dtype=np.int64)
        ids = [i for i, _ in rows]
        C = V[:5]
        cn = np.sqrt((C * C).sum(axis=1).astype(float))
        vn = np.sqrt((V * V).sum(axis=1).astype(float))
        cos_c = (V @ C.T).astype(float) / (vn[:, None] * cn[None, :])
        assign = cos_c.argmax(axis=1)  # first max = smallest cent_id
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        pair_cos = (V @ V.T).astype(float) / (vn[:, None] * vn[None, :])
        for i, j in itertools.combinations(range(n), 2):
            if assign[i] == assign[j] and pair_cos[i, j] >= 0.98:
                parent[find(i)] = find(j)
        groups = {}
        for i in range(n):
            groups.setdefault(find(i), []).append(i)
        want_keep = {}
        for members in groups.values():
            if len(members) == 1:
                want_keep[members[0]] = True
                continue
            rep = min(members, key=lambda i: (cos_c[i, assign[i]], ids[i]))
            for i in members:
                want_keep[i] = i == rep
        for i in range(n):
            assert got[ids[i]][0] == ids[assign[i]], (trial, i)
            assert got[ids[i]][1] == want_keep[i], (trial, i)


# --------------------------------------------------------------------------
# jaccard hot-shingle cutoff: the literal-hot-list fast path (r6 — the
# lazy formulation re-executed the df shuffle per consumer)
# --------------------------------------------------------------------------

def test_jaccard_cutoff_literal_hot_list_paths(spark):
    from bioframe_spark.datapipe import dedup as ddp

    # "common words here" 3-gram appears in ALL 6 docs (df=6); the
    # distinctive tails pair up docs 0/1, 2/3, 4/5
    docs = spark.createDataFrame(
        [(i, f"common words here tail{i // 2} alpha beta gamma delta")
         for i in range(6)],
        "doc_id long, text string")
    base = sorted(map(tuple, ddp.ngram_jaccard_pairs(
        docs, n=3, threshold=0.2).collect()))
    assert len(base) >= 3  # the common shingle links everything a bit
    # cutoff 5 drops ONLY the df=6 shingle (non-empty hot list ->
    # literal local-relation anti-join); pairs must still find the
    # tail-sharing partners via their distinctive shingles
    cut = sorted(map(tuple, ddp.ngram_jaccard_pairs(
        docs, n=3, threshold=0.2, max_doc_freq=5).collect()))
    assert {(p[0], p[1]) for p in cut} >= {(0, 1), (2, 3), (4, 5)}
    # a cutoff ABOVE every df (empty hot list -> join skipped) is
    # value-identical to no cutoff
    loose = sorted(map(tuple, ddp.ngram_jaccard_pairs(
        docs, n=3, threshold=0.2, max_doc_freq=1000).collect()))
    assert loose == base
    # forced over-cap fallback: the lazy join formulation still runs
    spark.conf.set("spark.bioframe.smallInputMaxRows", "0")
    try:
        fb = sorted(map(tuple, ddp.ngram_jaccard_pairs(
            docs, n=3, threshold=0.2, max_doc_freq=5).collect()))
    finally:
        spark.conf.unset("spark.bioframe.smallInputMaxRows")
    assert fb == cut


# --------------------------------------------------------------------------
# expand negative-pad midpoint: exact + overflow-free on sentinels
# --------------------------------------------------------------------------

def test_expand_negative_pad_sentinel_midpoint(spark):
    df = spark.createDataFrame(
        [("chr1", -9223372036854775807, 9223372036854775807),
         ("chr1", 0, 11), ("chr1", 5, 6), ("chr1", None, None)],
        "chrom string, start long, end long")
    out = {(r["start"], r["end"])
           for r in bf.expand(df, pad=-3).collect()}
    assert (-9223372036854775804, 9223372036854775804) in out
    assert (3, 8) in out
    # a 1-width interval collapses to its floor midpoint
    assert (5, 5) in out
    assert (None, None) in out


# --------------------------------------------------------------------------
# select_mask_positional: the reference's positional boolean mask as rows
# (reference ops.py:29-67) — closes the documented select_mask deviation
# --------------------------------------------------------------------------

def test_select_mask_positional_canonical(spark):
    df = spark.createDataFrame(
        [("chr1", 1, 5), ("chr1", 3, 8), ("chr2", 4, 10), ("chr1", None, None)],
        "chrom string, start long, end long")
    out = bf.select_mask_positional(df, "chr1:4-9").orderBy("index").collect()
    assert [(r["index"], r["mask"]) for r in out] == [
        (0, True), (1, True), (2, False), (3, False)]
    # np.nonzero(mask) == select_indices, by construction
    nz = [r["index"] for r in out if r["mask"]]
    idx = sorted(r["index"]
                 for r in bf.select_indices(df, "chr1:4-9").collect())
    assert nz == idx


def test_select_mask_positional_index_col(spark):
    # explicit stable index column — positional parity for ANY caller
    # ordering (e.g. a pandas RangeIndex carried through createDataFrame)
    df = spark.createDataFrame(
        [(7, "chr1", 0, 5), (3, "chr1", 10, 20), (9, "chr2", 0, 5)],
        "rid long, chrom string, start long, end long")
    out = bf.select_mask_positional(df, "chr1:0-6", index_col="rid")
    assert out.columns == ["index", "mask"]
    got = {r["index"]: r["mask"] for r in out.collect()}
    assert got == {7: True, 3: False, 9: False}


def test_select_mask_positional_point_interval(spark):
    # point interval AT the query start is included (reference mask's
    # special case: (start == end) & (start == query_start))
    df = spark.createDataFrame(
        [("chr1", 4, 4), ("chr1", 9, 9)], "chrom string, start long, end long")
    out = {r["index"]: r["mask"]
           for r in bf.select_mask_positional(df, "chr1:4-9").collect()}
    assert out == {0: True, 1: False}


# --------------------------------------------------------------------------
# winnowed repeated-span dedup (Lee et al. 2022 via Schleimer et al.
# winnowing) + BM25/TF-IDF ranking
# --------------------------------------------------------------------------

def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_duplicate_spans_basic(spark):
    from bioframe_spark.datapipe import dedup as ddp

    docs = _mk_docs(spark, [
        (1, "the quick brown fox jumps over the lazy dog again and again ok"),
        (2, "zz the quick brown fox jumps over the lazy dog again and again"),
        (3, "completely unrelated text with different spans entirely here"),
        (4, None),
        (5, "short"),
    ])
    got = {r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_frac"])
           for r in ddp.duplicate_spans(docs, k=10, w=4).collect()}
    assert got[4] == (None, None, None)          # null text -> null signals
    assert got[5] == (0, 0, None)                # too short to fingerprint
    assert got[3][1] == 0 and got[3][2] == 0.0   # clean doc
    # docs 1 and 2 share a >=(k+w-1)-char span -> both flagged heavily
    assert got[1][1] > 0 and got[2][1] > 0
    assert got[1][2] > 0.5 and got[2][2] > 0.5


def test_winnowing_guarantee_misaligned(spark):
    # the winnowing theorem: a shared verbatim substring of length
    # >= k + w - 1 yields >=1 shared fingerprint REGARDLESS of alignment
    # (this is exactly what positional striding gets wrong)
    from bioframe_spark.datapipe import dedup as ddp
    import random

    rng = random.Random(7)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    k, w = 8, 5
    shared = "".join(rng.choice(alpha) for _ in range(k + w - 1))
    rows = []
    for i, off in enumerate([0, 1, 3, 7, 13]):
        pre = "".join(rng.choice(alpha.upper()) for _ in range(off))
        post = "".join(rng.choice(alpha.upper()) for _ in range(11))
        rows.append((i, pre + shared + post))
    docs = _mk_docs(spark, rows)
    out = ddp.duplicate_spans(docs, k=k, w=w)
    assert all(r["n_dup_spans"] >= 1 for r in out.collect())


def test_winnow_kernel_matches_expression(spark):
    from pyspark.sql import functions as F
    from bioframe_spark.datapipe import dedup as ddp

    docs = _mk_docs(spark, [
        (1, "aaaaabbbbbcccccdddddeeeee"),
        (2, "aaaaabbbbbcccccdddddeeeee"),   # exact dup
        (3, "xx aaaaabbbbbcccccdddddeeeee yy"),
        (4, None),
        (5, "tiny"),
        (6, "exactly-k-chars-doc!!"),
    ])
    a = sorted(map(tuple, ddp.winnow_fingerprints(docs, k=10, w=4)
                   .select("doc_id", F.explode("fingerprints")).collect()))
    b = sorted(map(tuple, ddp._winnow_fingerprints_expr(docs, k=10, w=4)
                   .select("doc_id", F.explode("fingerprints")).collect()))
    assert a == b
    # null/empty semantics match too
    an = {r["doc_id"]: r["fingerprints"] for r in
          ddp.winnow_fingerprints(docs, k=10, w=4).collect()}
    assert an[4] is None and an[5] == []


def test_drop_duplicate_spans_docs(spark):
    from bioframe_spark.datapipe import dedup as ddp

    docs = _mk_docs(spark, [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "completely unrelated text with different spans entirely here"),
        (4, None),
    ])
    kept = {r["doc_id"] for r in
            ddp.drop_duplicate_spans_docs(docs, max_dup_frac=0.5,
                                          k=10, w=4).collect()}
    assert kept == {3, 4}  # exact dups dropped; clean + no-evidence kept


def test_bm25_and_tfidf(spark):
    import math
    from bioframe_spark.datapipe import ranking as rk

    docs = _mk_docs(spark, [
        (1, "spark spark spark engine"),
        (2, "spark engine"),
        (3, "pandas frame"),
        (4, None),
    ])
    out = {r["doc_id"]: r["score"]
           for r in rk.bm25_scores(docs, "spark").collect()}
    assert set(out) == {1, 2}          # only docs containing a query term
    assert out[1] > out[2]             # higher tf wins (dl penalty < tf gain)
    # hand-check doc 2: tf=1, dl=2, N=4, df=2, avgdl=(4+2+2)/3
    avgdl = 8 / 3
    idf = math.log(1.0 + (4.0 - 2 + 0.5) / (2 + 0.5))
    exp = idf * (1 * 2.2) / (1 + 1.2 * (0.25 + 0.75 * 2 / avgdl))
    assert abs(out[2] - round(exp, 6)) < 1e-9
    # top_n truncates by score desc
    top = rk.bm25_scores(docs, "spark", top_n=1).collect()
    assert [r["doc_id"] for r in top] == [1]
    # empty query -> empty typed frame
    assert rk.bm25_scores(docs, "!!!").count() == 0

    tf = {r["doc_id"]: r["score"] for r in
          rk.tfidf_scores(docs, "spark pandas").collect()}
    assert set(tf) == {1, 2, 3}
    assert tf[1] > tf[2]               # (1+ln 3) vs (1+ln 1) on same idf


def test_vocab_topk(spark):
    from bioframe_spark.datapipe import ranking as rk

    docs = _mk_docs(spark, [
        (1, "b b b a a c"), (2, "a b"), (3, None), (4, "d! d? c,"),
    ])
    got = [(r["token"], r["cnt"]) for r in rk.vocab_topk(docs, n=3).collect()]
    assert got == [("b", 4), ("a", 3), ("c", 2)]  # c ties d on 2, token asc


def test_remove_duplicate_spans(spark):
    from pyspark.sql import functions as F
    from bioframe_spark.datapipe import dedup as ddp

    shared = "the quick brown fox jumps over the lazy dog tonight"
    docs = _mk_docs(spark, [
        (1, "AA " + shared + " BB"),
        (2, "CC " + shared + " DD"),
        (3, "EE " + shared + " FF"),
        (4, "totally different content with no repeats in it at all"),
        (5, None), (6, "tiny"),
    ])
    out = {r["doc_id"]: r for r in
           ddp.remove_duplicate_spans(docs, k=10, w=4).collect()}
    # min-id doc keeps its copy verbatim; the other sharers are cut
    assert out[1]["text"] == "AA " + shared + " BB"
    assert out[1]["n_cut_spans"] == 0 and out[1]["n_removed_chars"] == 0
    for i in (2, 3):
        assert shared not in out[i]["text"]
        assert out[i]["n_removed_chars"] > len(shared) - (10 + 4)
    assert out[4]["text"].startswith("totally") and out[4]["n_cut_spans"] == 0
    assert out[5]["text"] is None and out[5]["n_cut_spans"] is None
    assert out[6]["text"] == "tiny"
    # the cleaned corpus carries no cross-doc duplicate fingerprints
    cleaned = spark.createDataFrame(
        [(i, out[i]["text"]) for i in sorted(out)],
        "doc_id long, text string")
    residue = (ddp.duplicate_spans(cleaned, k=10, w=4)
               .agg(F.sum("n_dup_spans")).first()[0])
    assert residue == 0


def test_bm25_many_matches_single(spark):
    from bioframe_spark.datapipe import ranking as rk

    docs = _mk_docs(spark, [
        (1, "spark spark spark engine"),
        (2, "spark engine"),
        (3, "pandas frame engine"),
        (4, None),
    ])
    many = {(r["query_id"], r["doc_id"]): r["score"]
            for r in rk.bm25_scores_many(
                docs, {"q1": "spark", "q2": "pandas engine"}).collect()}
    for q, text in (("q1", "spark"), ("q2", "pandas engine")):
        single = {r["doc_id"]: r["score"]
                  for r in rk.bm25_scores(docs, text).collect()}
        got = {d: s for (qq, d), s in many.items() if qq == q}
        assert set(got) == set(single)
        for d in single:
            assert abs(got[d] - single[d]) <= 1e-6


def test_duplicate_spans_join_strategy_identical(spark):
    import pytest
    from bioframe_spark.datapipe import dedup as ddp

    docs = _mk_docs(spark, [
        (1, "the quick brown fox jumps over the lazy dog again and again ok"),
        (2, "zz the quick brown fox jumps over the lazy dog again and again"),
        (3, "completely unrelated text with different spans entirely here"),
        (4, None), (5, "short"),
    ])
    a = sorted(map(tuple,
                   ddp.duplicate_spans(docs, k=10, w=4).collect()))
    b = sorted(map(tuple,
                   ddp.duplicate_spans(docs, k=10, w=4,
                                       strategy="join").collect()))
    assert a == b
    with pytest.raises(ValueError):
        ddp.duplicate_spans(docs, strategy="bogus")


def test_span_dup_pairs_and_resolution(spark):
    from bioframe_spark.datapipe import dedup as ddp

    shared = "the quick brown fox jumps over the lazy dog tonight again"
    docs = _mk_docs(spark, [
        (1, "AA " + shared + " BB"), (2, "CC " + shared + " DD"),
        (3, shared + " EE"), (4, "nothing in common with anything here"),
        (5, None),
    ])
    pairs = ddp.span_dup_pairs(docs, k=10, w=4, min_shared=2)
    got = {(r["id1"], r["id2"]) for r in pairs.collect()}
    assert got == {(1, 2), (1, 3), (2, 3)}
    # composes with the standard resolution stage: one canonical doc
    # survives per cluster
    kept = {r["doc_id"]
            for r in ddp.drop_near_duplicates(docs, pairs).collect()}
    assert kept == {1, 4, 5}
