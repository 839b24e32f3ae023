"""Round-4 additions: outer-path auto selection (hot-value skew guard),
full_outer window salting, real/injectable multimodal codec engines,
shingle-cache lifecycle, packaged gap track, cluster null-row cap."""

import io
import math
import struct
import wave

import pytest
from pyspark.sql import functions as F

import bioframe_spark as bf
from bioframe_spark.datapipe import dedup, multimodal
from bioframe_spark.operators import ops

from helpers import ivals, rows


# --------------------------------------------------------------------------
# outer-path selection
# --------------------------------------------------------------------------

def _mk(spark, tmp_path, name, data):
    df = ivals(spark, data)
    p = str(tmp_path / name)
    df.write.parquet(p)
    return spark.read.parquet(p)


def test_outer_path_auto_rule(spark, tmp_path):
    """Small/uniform inputs keep the single-pass window; a hot probe row
    (whole-span interval) over a dense build side crosses the estimate
    and flips to the semi/anti path; both are conf-overridable."""
    a = _mk(spark, tmp_path, "a", [("chr1", i, i + 5) for i in range(0, 400, 10)])
    stats = ops._bin_stats(a, "start", "end", a, "start", "end")
    assert ops._outer_path(a, "left_outer", stats, stats[2],
                           stats[0], stats[1]) == "window"
    # force a tiny bar: the same stats must now select anti
    spark.conf.set("spark.bioframe.outerHotRows", "1")
    try:
        assert ops._outer_path(a, "left_outer", stats, stats[2],
                               stats[0], stats[1]) == "anti"
    finally:
        spark.conf.unset("spark.bioframe.outerHotRows")
    # explicit pin wins over any estimate
    spark.conf.set("spark.bioframe.outerPath", "anti")
    try:
        assert ops._outer_path(a, "left_outer", stats, stats[2],
                               stats[0], stats[1]) == "anti"
    finally:
        spark.conf.unset("spark.bioframe.outerPath")
    # bare-tuple hint (sizing unknown) keeps the status quo
    assert ops._outer_path(a, "left_outer", (0, 1000, 100), 100, 0,
                           1000) == "window"
    # r9 second term: NO hot row, but a total-output pair estimate over
    # spark.bioframe.outerPairRows flips to anti (the window path's one
    # exchange carries the full joined output; the anti path's extra
    # passes are column-pruned input scans — ladder-measured crossover)
    spark.conf.set("spark.bioframe.outerPairRows", "1")
    try:
        assert ops._outer_path(a, "left_outer", stats, stats[2],
                               stats[0], stats[1]) == "anti"
    finally:
        spark.conf.unset("spark.bioframe.outerPairRows")


@pytest.mark.parametrize("how", ["left", "right", "outer"])
def test_outer_paths_value_identical_with_dups_and_nulls(spark, how):
    """Window and anti reconstructions agree on the hard cases: duplicate
    row values (each copy must emit its own lonely row), null-triple
    rows, and payload columns."""
    data1 = [("chr1", 0, 5, "x"), ("chr1", 0, 5, "x"), ("chr1", 100, 110, "y"),
             (None, None, None, "z")]
    data2 = [("chr1", 3, 8, 1.0), ("chr2", 0, 50, 2.0), (None, None, None, 3.0)]
    d1 = spark.createDataFrame(data1, "chrom string, start long, end long, tag string")
    d2 = spark.createDataFrame(data2, "chrom string, start long, end long, score double")
    out = {}
    for path in ("window", "anti"):
        spark.conf.set("spark.bioframe.outerPath", path)
        try:
            out[path] = rows(bf.overlap(d1, d2, how=how, suffixes=("", "_b"),
                                        strategy="binned", bin_size=4))
        finally:
            spark.conf.unset("spark.bioframe.outerPath")
    assert out["window"] == out["anti"]
    # and the lonely duplicates both appear
    vals, cols = out["window"]
    if how in ("left", "outer"):
        lonely_x = [t for t in vals if "x" in t]
        assert len(lonely_x) == 2


def test_binned_outer_adversarial_coordinates(spark):
    """Negative coordinates (legal) and INT64-max sentinel ends must not
    break the bin explode or either outer reconstruction: binned
    window/anti == plain on the same frames."""
    INT64_MAX = (1 << 63) - 1
    d1 = spark.createDataFrame(
        [("chr1", -500, -100), ("chr1", -50, 25), ("chr1", 10, INT64_MAX),
         ("chr1", 7_000, 8_000)],
        "chrom string, start long, end long")
    d2 = spark.createDataFrame(
        [("chr1", -200, -150), ("chr1", 0, 5), ("chr1", 1_000_000, 1_000_010)],
        "chrom string, start long, end long")
    want = rows(bf.overlap(d1, d2, how="outer", suffixes=("", "_b"),
                           strategy="plain"))
    for path in ("window", "anti"):
        spark.conf.set("spark.bioframe.outerPath", path)
        try:
            got = rows(bf.overlap(d1, d2, how="outer", suffixes=("", "_b"),
                                  strategy="binned"))
        finally:
            spark.conf.unset("spark.bioframe.outerPath")
        assert got == want, path


# --------------------------------------------------------------------------
# merge pre-merge path
# --------------------------------------------------------------------------

@pytest.mark.parametrize("min_dist", [None, 0, 7])
def test_merge_premerge_value_identical(spark, min_dist):
    """premerge x {classic border, ranged} == the default plan, on the
    hard geometry: duplicate rows, coincident points (each its own
    island under min_dist=None), null triples, adjacent intervals."""
    data = ([("chr1", i, i + 15) for i in range(0, 200, 10)]
            + [("chr1", 50, 50)] * 3 + [("chr1", 300, 300)]
            + [("chr2", 0, 5), ("chr2", 5, 10), ("chr2", 100, 120)]
            + [("chr1", 40, 60)] * 2 + [(None, None, None)])
    df = spark.createDataFrame(data, "chrom string, start long, end long")
    want = rows(bf.merge(df, min_dist=min_dist, range_width=None,
                         premerge=False))
    for rw in (None, 64):
        got = rows(bf.merge(df, min_dist=min_dist, range_width=rw,
                            premerge=True))
        assert got == want, f"premerge mismatch at range_width={rw}"


def test_merge_premerge_auto_gate(spark, tmp_path):
    """auto premerge reads merge's smallInputBytes bar: at or under it
    the driver kernel runs (no fuse in the plan); with the bar lowered
    below the scan size the auto path fuses map-side (MapInArrow in
    the plan) and the values stay the same."""
    df = ivals(spark, [("chr1", i, i + 5) for i in range(0, 300, 10)]
               + [("chr2", 7, 7), ("chr2", 7, 7), ("chr2", 3, 9)])
    p = str(tmp_path / "m")
    df.write.parquet(p)
    df = spark.read.parquet(p)

    def plan(out):
        return out._jdf.queryExecution().executedPlan().toString()

    want = rows(bf.merge(df, premerge=False, local=False))
    small = bf.merge(df)
    assert "MapInArrow" not in plan(small)  # auto -> driver kernel
    assert rows(small) == want
    spark.conf.set("spark.bioframe.smallInputBytes", "1")
    try:
        fused = bf.merge(df)
        assert "MapInArrow" in plan(fused)  # auto -> fuse
        assert rows(fused) == want
    finally:
        spark.conf.unset("spark.bioframe.smallInputBytes")


# --------------------------------------------------------------------------
# multimodal codec engines
# --------------------------------------------------------------------------

def _wav_bytes(samples, framerate=8000, nch=1):
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(2)
        w.setframerate(framerate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def test_wav_feature_engine_real_decode(spark):
    """The stdlib WAV engine is a REAL codec: constant-amplitude audio
    must come back as its exact normalized RMS in every slice."""
    amp = 16384  # -6 dBFS square-ish constant
    payload = _wav_bytes([amp] * 8000)
    silent = _wav_bytes([0] * 4000)
    data = [(1, "audio", bytearray(payload), (None, None, 1000, "wav")),
            (2, "audio", bytearray(silent), (None, None, 500, "wav"))]
    df = spark.createDataFrame(data, multimodal.MEDIA_SCHEMA)
    feats = {r["media_id"]: r["feature"] for r in multimodal.extract_features(
        df, engine=multimodal.wav_feature_engine(dim=4)).collect()}
    for v in feats[1]:
        assert math.isclose(v, amp / 32768.0, rel_tol=1e-6)
    assert feats[2] == [0.0, 0.0, 0.0, 0.0]


def test_wav_engine_stereo_and_garbage(spark):
    eng = multimodal.wav_feature_engine(dim=2)
    # stereo mixdown: L=1000, R=3000 -> mean 2000 per frame
    st = _wav_bytes([1000, 3000] * 100, nch=2)
    got = eng(st, "audio", None)
    assert all(math.isclose(v, 2000 / 32768.0, rel_tol=1e-6) for v in got)
    with pytest.raises(multimodal.DecodeUnavailable):
        eng(b"not a wav at all", "audio", None)


def test_engine_parameterized_features(spark):
    """Same Spark plumbing, two engines: the fake and the real WAV
    codec — engine choice changes only the vector values."""
    payload = _wav_bytes([100] * 1000)
    df = spark.createDataFrame(
        [(1, "audio", bytearray(payload), (None, None, 125, "wav"))],
        multimodal.MEDIA_SCHEMA)
    for engine in (multimodal.fake_feature_engine(),
                   multimodal.wav_feature_engine()):
        out = multimodal.extract_features(df, engine=engine).collect()
        assert len(out) == 1 and len(out[0]["feature"]) == 8
        assert out[0]["n_bytes"] == len(payload)


def test_pil_engines_gate_cleanly():
    """In a container without Pillow the PIL engines must fail fast at
    construction with DecodeUnavailable (when Pillow IS present, they
    construct and this test just exercises that path)."""
    import importlib.util

    has_pil = importlib.util.find_spec("PIL") is not None
    for ctor in (multimodal.pil_image_engine, multimodal.pil_resize_engine):
        if has_pil:
            assert callable(ctor())
        else:
            with pytest.raises(multimodal.DecodeUnavailable):
                ctor()


def test_resize_engine_injectable(spark):
    """resize_images with a custom engine: meta updates + pass-through of
    non-image rows stay the operator's job, payload bytes the engine's."""
    def tag_engine(payload, width, height):
        return bytes([width, height])

    data = [(1, "image", bytearray(b"abc"), (4, 4, None, "png")),
            (2, "audio", bytearray(b"xyz"), (None, None, 9, "wav"))]
    df = spark.createDataFrame(data, multimodal.MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in
           multimodal.resize_images(df, 7, 9, engine=tag_engine).collect()}
    assert bytes(out[1]["payload"]) == bytes([7, 9])
    assert out[1]["meta"]["width"] == 7 and out[1]["meta"]["height"] == 9
    assert bytes(out[2]["payload"]) == b"xyz"  # untouched


# --------------------------------------------------------------------------
# adversarial guards
# --------------------------------------------------------------------------

def test_cluster_many_null_rows(spark):
    """Adversarial null-heavy input: 3000 all-null triples + a handful of
    real intervals. Ids must be dense, unique, and numbered after the
    real clusters (the documented bounded single-partition sort)."""
    valid = [("chr1", 0, 5, f"v{i}") for i in range(3)]
    nulls = [(None, None, None, f"n{i}") for i in range(3000)]
    df = spark.createDataFrame(
        valid + nulls, "chrom string, start long, end long, tag string")
    out = bf.cluster(df, min_dist=0)
    got = out.select("cluster", "tag").collect()
    ids = sorted(r["cluster"] for r in got)
    # 3 valid rows collapse into cluster 0; nulls follow densely
    assert ids == [0, 0, 0] + list(range(1, 3001))
    null_ids = {r["cluster"] for r in got if r["tag"].startswith("n")}
    assert min(null_ids) == 1 and len(null_ids) == 3000


def test_select_mask_column_deviation(spark):
    """Pinned deviation: the reference returns a positional boolean
    ARRAY (ops.py:29-67); Spark rows have no positions, so select_mask
    yields a boolean COLUMN with identical per-row truth values."""
    df = spark.createDataFrame(
        [("chr1", 0, 10), ("chr1", 50, 60), ("chr2", 0, 10)],
        "chrom string, start long, end long")
    out = bf.select_mask(df, "chr1:0-20").collect()
    got = {(r["chrom"], r["start"]): r["mask"] for r in out}
    assert got == {("chr1", 0): True, ("chr1", 50): False,
                   ("chr2", 0): False}
    assert len(out) == 3  # every input row kept, no filtering


# --------------------------------------------------------------------------
# streaming merge kernel associativity
# --------------------------------------------------------------------------

def test_weighted_island_merge_associative():
    """The invariant stream_merge's state rests on: merging any batch
    split incrementally (prefix islands fed back as weighted rows)
    equals the one-shot merge — fuzzed over random interval sets,
    splits, and min_dist values including the strict None rule."""
    import random

    import numpy as np

    from bioframe_spark.core.arrops import island_sweep

    def _weighted_island_merge(rows, md):
        if not rows:
            return []
        a = np.asarray(rows, dtype=np.int64)
        _, s, e, c = island_sweep(a[:, 0], a[:, 1], a[:, 2], md)
        return list(zip(s.tolist(), e.tolist(), c.tolist()))

    rng = random.Random(20260814)
    for trial in range(300):
        n = rng.randint(1, 24)
        rows = []
        for _ in range(n):
            s = rng.randint(0, 60)
            ln = rng.choice([0, 0, 1, 3, 10])  # points are common
            rows.append((s, s + ln, 1))
        md = rng.choice([None, 0, 2])
        want = _weighted_island_merge(rows, md)
        # random multi-way split, merged incrementally through state
        k = rng.randint(1, 4)
        batches = [[] for _ in range(k)]
        for r in rows:
            batches[rng.randrange(k)].append(r)
        state = []
        for b in batches:
            state = _weighted_island_merge(state + b, md)
        assert state == want, (trial, md, rows, batches, state, want)


# --------------------------------------------------------------------------
# shingle cache lifecycle
# --------------------------------------------------------------------------

def test_jaccard_cache_auto_and_release(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 3} end") for i in range(40)],
        "doc_id long, text string")
    p = str(tmp_path / "docs")
    docs.write.parquet(p)
    docs = spark.read.parquet(p)

    # small input -> auto caches; the scope releases the cache
    with bf.scope() as held:
        dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.1).count()
        assert len(held) == 1 and held[0].storageLevel.useMemory
    assert not held[0].storageLevel.useMemory

    # forced-off path never persists
    with bf.scope() as held:
        dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.1, cache=False)
    assert held == []

    # "big input" via a tiny conf bar -> auto resolves to off
    spark.conf.set("spark.bioframe.shingleCacheBytes", "1")
    try:
        with bf.scope() as held:
            dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.1)
        assert held == []
    finally:
        spark.conf.unset("spark.bioframe.shingleCacheBytes")


def test_redact_pii_order_and_counts(spark):
    """URL redaction precedes email so an email-like span inside a URL
    folds into <URL>; counts audit the PRE-redaction text."""
    from bioframe_spark.datapipe import text as tx

    df = spark.createDataFrame(
        [(1, "mail a@b.co or https://x.io/u@v.org path 1.2.3.4 ok"),
         (2, "no pii here")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           tx.redact_pii(tx.redaction_counts(df)).collect()}
    assert out[1]["text"] == "mail <EMAIL> or <URL> path <IP> ok"
    assert (out[1]["n_url"], out[1]["n_email"], out[1]["n_ip"]) == (1, 2, 1)
    assert out[2]["text"] == "no pii here"
    assert (out[2]["n_url"], out[2]["n_email"], out[2]["n_ip"]) == (0, 0, 0)


def test_remove_boilerplate_lines(spark):
    from bioframe_spark.datapipe import text as tx

    df = spark.createDataFrame(
        [(1, "HEAD\nown one\n\nFOOT"),
         (2, "HEAD\nown two\n\nFOOT"),
         (3, "HEAD\nFOOT")],  # nothing survives but the blank rule
        "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in
           tx.remove_boilerplate_lines(df, min_docs=2).collect()}
    # shared HEAD/FOOT dropped; blank lines exempt; order preserved
    assert out[1] == "own one\n"
    assert out[2] == "own two\n"
    assert out[3] == ""


def test_ngram_contamination(spark):
    from bioframe_spark.datapipe import dedup

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "entirely different training material goes here now")],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(10, "quick brown fox jumps around"),  # 3 shingles, 2 in corpus
         (11, "nothing matches this sentence at all"),
         (12, "too short")],                    # zero 3-gram shingles
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.ngram_contamination(corpus, ev, n=3,
                                     threshold=0.5).collect()}
    assert (out[10]["n_shingles"], out[10]["n_contaminated"]) == (3, 2)
    assert out[10]["flagged"] and abs(out[10]["contamination"] - 2/3) < 1e-12
    assert out[11]["n_contaminated"] == 0 and not out[11]["flagged"]
    assert out[12]["n_shingles"] == 0 and not out[12]["flagged"]


def test_repetition_signals(spark):
    from bioframe_spark.datapipe import text as tx

    df = spark.createDataFrame(
        [(1, "dup line\ndup line\nuniq"),  # line-level duplication
         (2, "x"),                       # 1 token: no bigrams, no 5-grams
         (3, "a b a b a b c"),           # bigrams: (a b)x3 (b a)x2 (b c)x1
         (4, "a b a b a b a b a b")],    # 6 5-grams, 2 distinct
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in tx.repetition_signals(df).collect()}

    r1 = out[1]
    assert r1["n_lines"] == 3 and r1["n_dup_lines"] == 1
    assert r1["n_dup_line_chars"] == len("dup line")

    r2 = out[2]
    assert (r2["n_ngrams"], r2["n_dup_ngrams"]) == (0, 0)
    assert r2["top_bigram"] is None and r2["top_bigram_count"] == 0
    assert r2["top_bigram_chars"] == 0

    r3 = out[3]
    # 7 tokens -> 3 five-grams, all distinct
    assert (r3["n_ngrams"], r3["n_dup_ngrams"]) == (3, 0)
    assert r3["top_bigram"] == "a b" and r3["top_bigram_count"] == 3
    assert r3["top_bigram_chars"] == 3 * 3

    r4 = out[4]
    # 10 tokens -> 6 five-grams alternating between 2 distinct forms
    assert (r4["n_ngrams"], r4["n_dup_ngrams"]) == (6, 4)
    # "a b" occurs 5x, "b a" 4x
    assert r4["top_bigram"] == "a b" and r4["top_bigram_count"] == 5


def test_repetition_tie_smallest_bigram(spark):
    from bioframe_spark.datapipe import text as tx

    # "b c" and "a b" both occur twice; deterministic winner is "a b"
    df = spark.createDataFrame(
        [(1, "b c q a b r b c s a b")], "doc_id long, text string")
    r = tx.repetition_signals(df).collect()[0]
    assert r["top_bigram"] == "a b" and r["top_bigram_count"] == 2


def test_dedup_lines_first_occurrence(spark):
    from bioframe_spark.datapipe import text as tx

    df = spark.createDataFrame(
        [(2, "SHARED\nonly two\n\nSHARED"),
         (1, "SHARED\nonly one"),
         (3, "only three\nSHARED")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in tx.dedup_lines(df).collect()}
    # first occurrence = doc 1 pos 0 (ordered by id then position);
    # within-doc repeats also collapse; blank lines always survive
    assert out[1] == "SHARED\nonly one"
    assert out[2] == "only two\n"
    assert out[3] == "only three"


def _rows(df, cols):
    return sorted((tuple(r[c] for c in cols) for r in df.collect()), key=str)


def _pq(spark, tmp_path, name, data, schema="chrom string, start long, end long"):
    """Parquet-backed frame: createDataFrame plans have UNKNOWN size
    (2^63-1), which NEVER passes the _SMALL_INPUT_BYTES broadcast-kernel
    gate — tests of the kernels must use frames with real scan stats."""
    df = spark.createDataFrame(data, schema)
    p = str(tmp_path / name)
    df.write.parquet(p)
    return spark.read.parquet(p)


def test_broadcast_kernels_match_join_path_on_degenerate_input(spark, tmp_path):
    """The coverage/count_overlaps broadcast kernels must be
    value-identical to the join formulation on adversarial queries:
    inverted intervals, empty/point intervals, duplicate rows, chroms
    with no annotation, and null coordinates. df2 is parquet-backed so
    the kernel gate actually fires (a plan-budget test pins that)."""
    import bioframe_spark as bf
    from bioframe_spark.operators.ops import _plan_size_bytes, _SMALL_INPUT_BYTES

    a = spark.createDataFrame(
        [("chr1", 1, 10), ("chr1", 1, 10),      # duplicates
         ("chr1", 25, 22),                       # inverted query
         ("chr1", 7, 7),                         # point query
         ("chr1", 12, 12),                       # point ON a df2 start
         ("chr9", 3, 8),                         # chrom absent from b
         ("chr1", None, 4), (None, 1, 2)],       # nulls -> 0
        "chrom string, start long, end long")
    b = _pq(spark, tmp_path, "b",
            [("chr1", 5, 12), ("chr1", 11, 15), ("chr1", 20, 30),
             ("chr1", 5, 5),                     # zero-length annotation
             ("chr1", 12, 12),                   # point at a query start
             ("chr2", 1, 6)])
    assert _plan_size_bytes(b) <= _SMALL_INPUT_BYTES  # gate really fires
    cols = ["chrom", "start", "end", "coverage"]
    fast = _rows(bf.coverage(a, b), cols)
    join = _rows(bf.coverage(a, b, strategy="plain"), cols)
    assert fast == join
    cols = ["chrom", "start", "end", "count"]
    fast = _rows(bf.count_overlaps(a, b), cols)
    join = _rows(bf.count_overlaps(a, b, strategy="plain"), cols)
    assert fast == join
    # the point-rewrite cases, pinned by value (not just parity):
    # [5,10) overlaps the zero-length [5,5]->[5,6); [7,7)->[7,8) is
    # inside [5,12); [12,12)->[12,13) hits [11,15) and [12,12)
    cnt = {(r["start"], r["end"]): r["count"]
           for r in bf.count_overlaps(a, b).collect()
           if r["chrom"] == "chr1" and r["start"] is not None}
    assert cnt[(1, 10)] == 2          # [5,12) + point [5,5]
    assert cnt[(7, 7)] == 1           # inside [5,12)
    assert cnt[(12, 12)] == 2         # [11,15) + point [12,12)


def test_count_overlaps_inverted_df2_falls_back(spark, tmp_path):
    """An inverted df2 row invalidates the sorted-array counting
    identity; the kernel gate must route to the join formulation and
    stay value-identical (and never emit negative counts)."""
    import bioframe_spark as bf

    a = spark.createDataFrame(
        [("chr1", 5, 10), ("chr1", 0, 200)],
        "chrom string, start long, end long")
    b = _pq(spark, tmp_path, "binv",
            [("chr1", 100, 0), ("chr1", 7, 12)])
    cols = ["chrom", "start", "end", "count"]
    fast = _rows(bf.count_overlaps(a, b), cols)
    join = _rows(bf.count_overlaps(a, b, strategy="plain"), cols)
    assert fast == join
    assert all(t[3] >= 0 for t in fast)


def test_coverage_inverted_df2_falls_back(spark, tmp_path):
    """Inverted df2 intervals route coverage to the join formulation
    (merged islands of inverted rows break end-array monotonicity);
    values still match the forced join path."""
    import bioframe_spark as bf

    a = spark.createDataFrame(
        [("chr1", 0, 50)], "chrom string, start long, end long")
    b = _pq(spark, tmp_path, "bcovinv",
            [("chr1", 12, 5), ("chr1", 20, 30)])
    fast = _rows(bf.coverage(a, b), ["chrom", "start", "end", "coverage"])
    join = _rows(bf.coverage(a, b, strategy="plain"),
                 ["chrom", "start", "end", "coverage"])
    assert fast == join


def test_gopher_quality_filter_rules(spark):
    from bioframe_spark.datapipe import text as tx

    good = ("the cat sat and the dog ran for the hill in the sun "
            "it was that kind of day and all of them were happy "
            "more and more words keep this document long enough here "
            "extra filler tokens stretch the body to the bar now")
    docs = spark.createDataFrame(
        [(1, good),                               # passes everything
         (2, "short text"),                       # fails word count
         (3, good + "\nrep line\nrep line\nrep line"),  # dup lines > 30%? 5 lines 2 dups = 40%
         (4, ("#### " * 60).strip())],            # no alpha words, no stopwords
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           tx.gopher_quality_filter(docs, min_words=30).collect()}

    assert out[1]["keep"] and all(
        out[1][c] for c in out[1].asDict() if c.startswith("r_"))
    assert not out[2]["r_word_count"] and not out[2]["keep"]
    assert not out[3]["r_dup_lines"] and not out[3]["keep"]
    assert not out[4]["r_alpha_words"] and not out[4]["r_stopwords"]
    assert not out[4]["keep"]


def test_count_overlaps_on_kernel_matches_join(spark, tmp_path):
    """The on=-keyed broadcast count kernel == the join formulation,
    including null on-keys on both sides (never match -> 0)."""
    import bioframe_spark as bf

    a = spark.createDataFrame(
        [("chr1", 1, 10, "+"), ("chr1", 1, 10, "-"),
         ("chr1", 5, 8, None), ("chr2", 1, 5, "+")],
        "chrom string, start long, end long, strand string")
    b = _pq(spark, tmp_path, "bon",
            [("chr1", 5, 12, "+"), ("chr1", 6, 7, "+"),
             ("chr1", 2, 9, "-"), ("chr2", 50, 60, "+"),
             ("chr1", 3, 4, None)],
            schema="chrom string, start long, end long, strand string")
    cols = ["chrom", "start", "end", "strand", "count"]
    fast = _rows(bf.count_overlaps(a, b, on=["strand"]), cols)
    join = _rows(bf.count_overlaps(a, b, on=["strand"], strategy="plain"),
                 cols)
    assert fast == join
    by = {(t[0], t[1], t[3]): t[4] for t in fast}
    assert by[("chr1", 1, "+")] == 2 and by[("chr1", 1, "-")] == 1
    assert by[("chr1", 5, None)] == 0


def test_closest_null_coord_df2_never_matches(spark, tmp_path):
    """Null-coordinate df2 rows must never be returned as a match by ANY
    strategy (the binned join predicate ignores them naturally; the
    kernel strategies drop them in closest._ClosestBody). The reference
    rejects such input outright, so filtering is the engine-wide
    null-rows-never-match contract."""
    a = spark.createDataFrame([("chr1", 2, 5)],
                              "chrom string, start long, end long")
    b = _pq(spark, tmp_path, "bnull",
            [("chr1", None, None), ("chr1", 100, 110)])
    want = [("chr1", 2, 5, "chr1", 100, 110, 95)]
    for strat in ("cogroup", "binned", "broadcast"):
        got = [tuple(r) for r in bf.closest(a, b, strategy=strat).collect()]
        assert got == want, (strat, got)
    # auto (small parquet df2 -> broadcast) agrees too
    got = [tuple(r) for r in bf.closest(a, b).collect()]
    assert got == want


def test_count_overlaps_on_big_int_keys_with_nulls(spark, tmp_path):
    """An int64 on-key above 2^53 alongside a null in the same column:
    the Arrow batch degrades nullable longs to float64, so raw key
    compares would round and miss — the kernel compares Spark STRING
    casts instead. Values must match the join formulation."""
    big = (1 << 60) + 1
    a = spark.createDataFrame(
        [("chr1", 1, 10, big), ("chr1", 1, 10, None), ("chr1", 1, 10, big + 1)],
        "chrom string, start long, end long, grp long")
    b = _pq(spark, tmp_path, "bbig",
            [("chr1", 5, 12, big)],
            schema="chrom string, start long, end long, grp long")
    cols = ["chrom", "start", "end", "grp", "count"]
    fast = _rows(bf.count_overlaps(a, b, on=["grp"]), cols)
    join = _rows(bf.count_overlaps(a, b, on=["grp"], strategy="plain"), cols)
    assert fast == join
    by = {t[3]: t[4] for t in fast}
    assert by[big] == 1 and by[big + 1] == 0 and by[None] == 0


def test_chunk_documents_edges(spark):
    from bioframe_spark.datapipe import packing

    df = spark.createDataFrame(
        [(1, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),  # 10 toks
         (2, "a b"),                              # shorter than a chunk
         (3, "x1 x2 x3 x4 x5 x6"),                # exact multiple of stride
         (4, None)],                              # null -> no rows
        "doc_id long, text string")
    out = {}
    for r in packing.chunk_documents(df, chunk_tokens=4, overlap=2).collect():
        out.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["text"], r["n_tokens"]))
    for v in out.values():
        v.sort()
    # stride 2: starts 0,2,4,6 cover all 10 tokens; tail chunks shrink
    assert out[1] == [(0, "t1 t2 t3 t4", 4), (1, "t3 t4 t5 t6", 4),
                      (2, "t5 t6 t7 t8", 4), (3, "t7 t8 t9 t10", 4)]
    assert out[2] == [(0, "a b", 2)]
    assert out[3] == [(0, "x1 x2 x3 x4", 4), (1, "x3 x4 x5 x6", 4)]
    assert 4 not in out


def test_pack_sequences_nextfit_and_determinism(spark):
    from bioframe_spark.datapipe import packing

    # shard 0 (num_shards=1): id order 1..5, sizes 40,50,30,90,20 at
    # max 80 -> seqs [40],[50,30],[90(oversize)],[20]
    df = spark.createDataFrame(
        [(1, " ".join(["w"] * 40)), (2, " ".join(["w"] * 50)),
         (3, " ".join(["w"] * 30)), (4, " ".join(["w"] * 90)),
         (5, " ".join(["w"] * 20))],
        "doc_id long, text string")
    want = {1: (0, 0, False), 2: (1, 0, False), 3: (1, 1, False),
            4: (2, 0, True), 5: (3, 0, False)}
    got = {r["doc_id"]: (r["seq"], r["seq_pos"], r["oversize"])
           for r in packing.pack_sequences(df, 80, num_shards=1).collect()}
    assert got == want
    # partitioning-independent: physical layout must not change packing
    got2 = {r["doc_id"]: (r["seq"], r["seq_pos"], r["oversize"])
            for r in packing.pack_sequences(
                df.repartition(7), 80, num_shards=1).collect()}
    assert got2 == want


def test_chunk_documents_map_only(spark, tmp_path):
    from bioframe_spark.datapipe import packing

    df = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    p = str(tmp_path / "chunkdocs")
    df.write.parquet(p)
    plan = (packing.chunk_documents(spark.read.parquet(p), 4, 2)
            ._jdf.queryExecution().executedPlan().toString())
    import re
    assert not re.findall(r"\bExchange (hash|range|RoundRobin|Single)", plan)
