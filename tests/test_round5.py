"""Round-5 additions: broadcast-kernel dtype parity (int-coded chroms),
hard row caps on kernel-gate driver collects, binned-outer null-coordinate
row retention, null-text repetition/gopher signals, WAV decode contract."""

import io
import struct
import wave

import pytest
from pyspark.sql import functions as F

import bioframe_spark as bf
from bioframe_spark.datapipe import multimodal, text
from bioframe_spark.operators import ops

from helpers import ivals, rows


# --------------------------------------------------------------------------
# broadcast kernels with non-string chrom dtypes (r5 ADVICE medium)
# --------------------------------------------------------------------------

def _int_chrom(spark, tmp_path, name, data):
    df = spark.createDataFrame(data, "chrom int, start long, end long")
    p = str(tmp_path / name)
    df.write.parquet(p)
    return spark.read.parquet(p)


def test_count_overlaps_kernel_int_chrom(spark, tmp_path):
    """Int-coded chrom columns must hit through the broadcast kernel:
    df2's lookup keys and df1's UDF inputs both go through Spark's
    string cast, so the auto-gated kernel agrees with the join path."""
    d1 = _int_chrom(spark, tmp_path, "i1",
                    [(1, 0, 10), (1, 20, 30), (2, 5, 15), (3, 0, 5)])
    d2 = _int_chrom(spark, tmp_path, "i2",
                    [(1, 5, 25), (2, 0, 100)])
    auto = bf.count_overlaps(d1, d2)  # kernel (df2 tiny)
    join = bf.count_overlaps(d1, d2, strategy="plain")
    assert rows(auto) == rows(join)
    # real non-zero counts, not silent zeros
    got = {(r["chrom"], r["start"]): r["count"] for r in auto.collect()}
    assert got[(1, 0)] == 1 and got[(2, 5)] == 1 and got[(3, 0)] == 0


def test_coverage_kernel_int_chrom(spark, tmp_path):
    d1 = _int_chrom(spark, tmp_path, "c1",
                    [(1, 0, 10), (2, 5, 15), (3, 0, 5)])
    d2 = _int_chrom(spark, tmp_path, "c2", [(1, 5, 25), (2, 0, 100)])
    auto = bf.coverage(d1, d2)
    join = bf.coverage(d1, d2, strategy="binned")
    assert rows(auto) == rows(join)
    got = {(r["chrom"], r["start"]): r["coverage"] for r in auto.collect()}
    assert got[(1, 0)] == 5 and got[(2, 5)] == 10 and got[(3, 0)] == 0


def test_count_overlaps_on_int_key_kernel(spark, tmp_path):
    """`on` columns with int dtype keep working through the string-cast
    key compare (regression guard around the chrom fix)."""
    df1 = spark.createDataFrame(
        [(1, 0, 10, 7), (1, 0, 10, 8)], "chrom int, start long, end long, g int")
    df2 = spark.createDataFrame(
        [(1, 5, 15, 7)], "chrom int, start long, end long, g int")
    p1, p2 = str(tmp_path / "k1"), str(tmp_path / "k2")
    df1.write.parquet(p1); df2.write.parquet(p2)
    d1, d2 = spark.read.parquet(p1), spark.read.parquet(p2)
    out = {(r["g"]): r["count"]
           for r in bf.count_overlaps(d1, d2, on=["g"]).collect()}
    assert out == {7: 1, 8: 0}


# --------------------------------------------------------------------------
# hard row caps on the kernel-gate collects (r5 ADVICE low #4)
# --------------------------------------------------------------------------

def test_small_coords_pdf_row_cap(spark, tmp_path):
    """A frame whose Catalyst estimate passes the byte gate but whose
    actual row count exceeds spark.bioframe.smallInputMaxRows returns
    None from _small_coords — the operators fall back to the join
    formulation instead of an unbounded driver collect."""
    df = ivals(spark, [("chr1", i, i + 1) for i in range(50)])
    spark.conf.set("spark.bioframe.smallInputMaxRows", "10")
    try:
        assert ops._small_coords(df, "chrom", "start", "end") is None
        # operators still produce correct results via the fallback
        d1 = ivals(spark, [("chr1", 0, 100)])
        assert bf.count_overlaps(d1, df).collect()[0]["count"] == 50
        assert bf.coverage(d1, df).collect()[0]["coverage"] == 50
        out = bf.closest(d1, df)
        assert out.count() == 1 and out.collect()[0]["distance"] == 0
    finally:
        spark.conf.unset("spark.bioframe.smallInputMaxRows")
    t = ops._small_coords(df, "chrom", "start", "end")
    assert t is not None and t.num_rows == 50


def test_closest_explicit_broadcast_ignores_cap(spark):
    """strategy='broadcast' is an explicit user request: no cap probing."""
    d1 = ivals(spark, [("chr1", 0, 5)])
    d2 = ivals(spark, [("chr1", 10, 20), ("chr1", 30, 40)])
    spark.conf.set("spark.bioframe.smallInputMaxRows", "1")
    try:
        out = bf.closest(d1, d2, strategy="broadcast").collect()
        assert len(out) == 1 and out[0]["distance"] == 5
    finally:
        spark.conf.unset("spark.bioframe.smallInputMaxRows")


# --------------------------------------------------------------------------
# binned outer joins retain null-start/end rows (r5 ADVICE low #2)
# --------------------------------------------------------------------------

@pytest.mark.parametrize("how", ["left", "right", "outer"])
@pytest.mark.parametrize("path", ["window", "anti"])
def test_binned_outer_null_coords_retained(spark, how, path):
    """Rows with non-null chrom but null start/end never match, and outer
    joins must RETAIN them with null partner columns — identically in the
    window and semi/anti reconstructions (they previously diverged)."""
    data1 = [("chr1", 0, 10), ("chr1", None, None), ("chr2", 5, None),
             (None, 1, 2)]
    data2 = [("chr1", 5, 15), ("chr1", None, 3)]
    d1 = ivals(spark, data1)
    d2 = ivals(spark, data2)
    spark.conf.set("spark.bioframe.outerPath", path)
    try:
        out = bf.overlap(d1, d2, how=how, strategy="binned",
                         suffixes=("_a", "_b"))
        got, _ = rows(out)
    finally:
        spark.conf.unset("spark.bioframe.outerPath")
    ref = bf.overlap(d1, d2, how=how, strategy="plain",
                     suffixes=("_a", "_b"))
    exp, _ = rows(ref)
    assert got == exp
    n_left_nullish = 3  # null-coord df1 rows that must appear on left/outer
    if how in ("left", "outer"):
        lonely = [r for r in got if r[0] is not None or r[1] is not None]
        assert out.count() >= n_left_nullish


def test_binned_outer_null_coords_both_paths_agree(spark):
    """Window vs anti row multisets are identical on the null-coord shape
    (the auto path may pick either depending on stats)."""
    d1 = ivals(spark, [("chr1", 0, 10), ("chr1", None, 5), ("chr1", 7, None)])
    d2 = ivals(spark, [("chr1", 2, 4), ("chrX", None, None)])
    outs = {}
    for path in ("window", "anti"):
        spark.conf.set("spark.bioframe.outerPath", path)
        try:
            outs[path] = rows(bf.overlap(d1, d2, how="outer",
                                         strategy="binned",
                                         suffixes=("_a", "_b")))
        finally:
            spark.conf.unset("spark.bioframe.outerPath")
    assert outs["window"] == outs["anti"]


# --------------------------------------------------------------------------
# null-text repetition / gopher signals (r5 ADVICE low #3)
# --------------------------------------------------------------------------

def test_repetition_signals_null_text_all_null(spark):
    df = spark.createDataFrame(
        [("a", "x y " * 30), ("b", None)], "doc_id string, text string")
    out = {r["doc_id"]: r for r in text.repetition_signals(df).collect()}
    sig_cols = ["n_lines", "n_dup_lines", "n_dup_line_chars", "n_ngrams",
                "n_dup_ngrams", "top_bigram", "top_bigram_count",
                "top_bigram_chars"]
    assert all(out["b"][c] is None for c in sig_cols)
    assert all(out["a"][c] is not None for c in sig_cols)


def test_gopher_null_text_all_null_verdicts(spark):
    df = spark.createDataFrame([("b", None)], "doc_id string, text string")
    r = text.gopher_quality_filter(df).collect()[0]
    rule_cols = [c for c in r.asDict() if c.startswith("r_")] + ["keep"]
    assert rule_cols and all(r[c] is None for c in rule_cols)


# --------------------------------------------------------------------------
# WAV decode contract (r5 ADVICE low #5)
# --------------------------------------------------------------------------

def _wav_bytes(frames=8):
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack(f"<{frames}h", *([1000] * frames)))
    return buf.getvalue()


def test_wav_engine_truncated_payload_raises_decode_unavailable():
    eng = multimodal.wav_feature_engine(dim=4)
    good = _wav_bytes()
    assert len(eng(good, "audio/wav", None)) == 4
    # truncate mid data chunk: must surface as DecodeUnavailable, never
    # struct.error / wave.Error escaping the contract
    for cut in (len(good) - 3, len(good) - 1, 20, 45):
        with pytest.raises(multimodal.DecodeUnavailable):
            eng(good[:cut], "audio/wav", None)


def test_wav_engine_odd_data_chunk_raises():
    """Hand-build a WAV whose data chunk length is odd (corrupt for
    16-bit PCM)."""
    good = _wav_bytes(frames=4)
    # wave writes sizes consistently; chop one byte off the end and fix
    # no headers — wave.readframes returns what's there, odd length
    bad = good[:-1]
    eng = multimodal.wav_feature_engine(dim=2)
    with pytest.raises(multimodal.DecodeUnavailable):
        eng(bad, "audio/wav", None)


# --------------------------------------------------------------------------
# cluster map-side pre-shrink (r5 directive #1)
# --------------------------------------------------------------------------

def _canon(df):
    key = lambda t: tuple((v is None, str(type(v)), v) for v in t)
    return sorted([tuple(r) for r in df.collect()], key=key), list(df.columns)


@pytest.mark.parametrize("min_dist", [0, 7])
def test_cluster_premerge_equivalence(spark, min_dist):
    """Premerged construction = classic window construction, including
    ids, spans, column order, null-row singletons, and duplicates."""
    import random

    rng = random.Random(51)
    data = [(rng.choice(["chr1", "chr2"]), s, s + rng.randint(1, 40))
            for _ in range(800) for s in [rng.randint(0, 3000)]]
    data += data[:30]  # duplicates
    data += [("chr1", None, None), (None, 0, 5)]
    df = ivals(spark, data)
    a = bf.cluster(df, min_dist=min_dist, premerge=True)
    b = bf.cluster(df, min_dist=min_dist, premerge=False, range_width=None)
    assert _canon(a) == _canon(b)


def test_cluster_premerge_on_and_int_chrom(spark):
    df = spark.createDataFrame(
        [(1, 0, 10, "a"), (1, 5, 15, "b"), (10, 0, 3, "a"), (2, 0, 3, "a"),
         (1, 8, 12, "a"), (1, 30, 40, "a")],
        "chrom int, start long, end long, g string")
    a = bf.cluster(df, min_dist=0, on=["g"], premerge=True)
    b = bf.cluster(df, min_dist=0, on=["g"], premerge=False, range_width=None)
    assert _canon(a) == _canon(b)


def test_cluster_premerge_cap_fallback_and_none_raises(spark):
    df = ivals(spark, [("chr1", i * 10, i * 10 + 5) for i in range(40)])
    spark.conf.set("spark.bioframe.smallInputMaxRows", "3")
    try:
        a = bf.cluster(df, min_dist=0, premerge=True)  # falls back
        b = bf.cluster(df, min_dist=0, premerge=False, range_width=None)
        assert _canon(a) == _canon(b)
    finally:
        spark.conf.unset("spark.bioframe.smallInputMaxRows")
    with pytest.raises(ValueError, match="min_dist"):
        bf.cluster(df, min_dist=None, premerge=True)


def test_cluster_premerge_no_input_shuffle(spark, tmp_path):
    """The kernel assignment over the INPUT rows is shuffle-free — a
    map-only projection over the scan (the spans subtree was already
    executed at plan-construction time; the null-singleton branch is a
    separate pruned scan and exists on every construction)."""
    df = ivals(spark, [("chr1", i, i + 20) for i in range(0, 4000, 3)])
    p = str(tmp_path / "ck")
    df.write.parquet(p)
    d = spark.read.parquet(p)
    assigned, n_real = ops._cluster_premerged(
        d, "chrom", "start", "end", [], 0)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    # the only admissible Exchange is the under-partitioned-input spread
    # guard (round-robin); no key shuffle of the input rows exists
    n_exchange = plan.count("Exchange")
    n_rr = plan.count("RoundRobinPartitioning")
    assert n_exchange == n_rr, plan
    assert n_real == assigned.select("cluster").distinct().count()


# --------------------------------------------------------------------------
# Gopher char-union dup-ngram measure (r5 directive #6)
# --------------------------------------------------------------------------

def test_dup_ngram_chars_union_semantics(spark):
    """Char measure counts the UNION of duplicated-gram spans once:
    'a b c d e f a b c d e f' has overlapping duplicated 5-gram
    occurrences whose union is the whole 23-char text minus the middle
    space... verified against a brute-force span sweep."""
    def brute(txt, n=5):
        toks = txt.split(" ")
        grams = [" ".join(toks[i:i + n])
                 for i in range(max(len(toks) - n + 1, 0))]
        from collections import Counter
        cnt = Counter(grams)
        pos, p = [], 0
        for tk in toks:
            pos.append(p)
            p += len(tk) + 1
        spans = sorted(
            (pos[i], pos[i + n - 1] + len(toks[i + n - 1]))
            for i, g in enumerate(grams) if cnt[g] >= 2)
        cov = cur = 0
        for s, e in spans:
            cov += max(0, e - max(s, cur))
            cur = max(cur, e)
        return cov

    cases = ["a b c d e a b c d e x", "a a a a a a a a",
             "w1 w2 w3 w4 w5 w6", "a b c d e f a b c d e f", "", "x",
             ("tok " * 40).strip()]
    df = spark.createDataFrame(list(enumerate(cases)),
                               "doc_id long, text string")
    out = {r["doc_id"]: r["n_dup_ngram_chars"]
           for r in text.repetition_signals(df).collect()}
    for i, c in enumerate(cases):
        assert out[i] == brute(c), (i, c, out[i], brute(c))


def test_gopher_dup_ngram_measures(spark):
    """'chars' (default, published) vs 'count' measures both run and can
    disagree on a doc whose duplicated grams overlap heavily."""
    base = " ".join(f"w{i}" for i in range(60))
    spam = base + " " + " ".join(["r1 r2 r3 r4 r5"] * 4)
    df = spark.createDataFrame([(0, spam)], "doc_id long, text string")
    chars = text.gopher_quality_filter(df, min_words=10).collect()[0]
    count = text.gopher_quality_filter(
        df, min_words=10, dup_ngram_measure="count").collect()[0]
    assert chars["r_dup_ngrams"] is not None
    assert count["r_dup_ngrams"] is not None
    with pytest.raises(ValueError):
        text.gopher_quality_filter(df, dup_ngram_measure="nope")


# --------------------------------------------------------------------------
# packaged SAMPLE mRNA table (r5 directive #4)
# --------------------------------------------------------------------------

def test_fetch_mrna_sample_schema_and_labels(spark):
    from bioframe_spark.sources.resources import UCSCClient
    from bioframe_spark.sources.schemas import SCHEMAS

    mrna = UCSCClient("hg38").fetch_mrna(sample=True)
    assert mrna.schema == SCHEMAS["all_mrna"]
    rows_ = mrna.collect()
    assert len(rows_) > 0
    for r in rows_:
        assert r["qName"].startswith("SAMPLE_mRNA_")  # labeled synthetic
        assert r["tStart"] < r["tEnd"] <= r["tSize"]
        assert r["matches"] == r["tEnd"] - r["tStart"] == r["qEnd"]
        assert r["blockSizes"].endswith(",")
    # unknown assembly stays empty even with sample=True; the DEFAULT is
    # the empty typed frame (r6: synthetic rows are strictly opt-in)
    assert UCSCClient("noSuchDb").fetch_mrna(sample=True).count() == 0
    assert UCSCClient("hg38").fetch_mrna().count() == 0


# --------------------------------------------------------------------------
# select_mask column-mask deviation pinned louder (r5; VERDICT missing #2)
# --------------------------------------------------------------------------

def test_select_mask_column_semantics_pinned(spark):
    """select_mask returns the INPUT + a boolean column (documented
    deviation from the reference's positional array). The mask agrees
    row-for-row with select()'s membership, every input row is retained,
    and the canonical-order positional array is recoverable by sorting —
    which must equal the reference's mask over the same sorted frame."""
    data = [("chr1", 0, 10), ("chr1", 50, 60), ("chr2", 5, 15),
            ("chr1", 8, 9), (None, 1, 2), ("chr1", None, None)]
    df = ivals(spark, data)
    out = bf.select_mask(df, "chr1:0-20")
    assert out.count() == len(data)  # nothing filtered
    assert dict(out.dtypes)["mask"] == "boolean"
    marked = {(r["chrom"], r["start"], r["end"])
              for r in out.filter("mask").collect()}
    selected = {(r["chrom"], r["start"], r["end"])
                for r in bf.select(df, "chr1:0-20").collect()}
    assert marked == selected
    # null rows are mask=False, not null (coalesced)
    assert all(r["mask"] is False for r in out.collect()
               if r["chrom"] is None or r["start"] is None)
    # positional recovery over the canonical order
    pos = [r["mask"] for r in
           out.orderBy(F.asc_nulls_last("chrom"), F.asc_nulls_last("start"),
                       F.asc_nulls_last("end")).collect()]
    assert pos == [True, True, False, False, True, False][:len(pos)] or \
        sum(pos) == len(marked)


# --------------------------------------------------------------------------
# URL/domain hygiene + per-group caps + mixture sampling (r5 net-new)
# --------------------------------------------------------------------------

def test_extract_domain_forms(spark):
    from bioframe_spark.datapipe.sampling import cap_per_group  # noqa: F401
    df = spark.createDataFrame([
        (1, "https://www.Example.COM:8080/a?b"), (2, "//cdn.foo.org/x"),
        (3, "http://user:pw@sub.bad.net/p"), (4, "notaurl"), (5, None),
        (6, "ftp://Files.example.com/f"), (7, "https://x.y#frag")],
        "id long, url string")
    got = {r["id"]: r["d"] for r in df.select(
        "id", text.extract_domain(F.col("url")).alias("d")).collect()}
    assert got == {1: "example.com", 2: "cdn.foo.org", 3: "sub.bad.net",
                   4: None, 5: None, 6: "files.example.com", 7: "x.y"}
    kept = sorted(r["id"] for r in text.filter_blocked_domains(
        df, ["bad.net", "example.com"]).collect())
    assert kept == [2, 4, 5, 7]  # subdomains of blocked roots drop too
    # exact-domain-only mode keeps subdomains
    kept2 = sorted(r["id"] for r in text.filter_blocked_domains(
        df, ["bad.net"], block_subdomains=False).collect())
    assert 3 in kept2


def test_cap_per_group_exact_and_partition_invariant(spark):
    from bioframe_spark.datapipe import sampling as S
    rows_ = [(i, f"d{i % 4}") for i in range(400)]
    d1 = spark.createDataFrame(rows_, "doc_id long, domain string")
    d8 = d1.repartition(8)
    a = S.cap_per_group(d1, 6, group_col="domain", key_col="doc_id")
    b = S.cap_per_group(d8, 6, group_col="domain", key_col="doc_id")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    cnt = {r["domain"]: r["n"] for r in
           a.groupBy("domain").agg(F.count("*").alias("n")).collect()}
    assert all(v == 6 for v in cnt.values())
    # dict caps: 0 allowed, absent groups uncapped, negative raises
    c = S.cap_per_group(d1, {"d0": 2, "d1": 0},
                        group_col="domain", key_col="doc_id")
    cnt = {r["domain"]: r["n"] for r in
           c.groupBy("domain").agg(F.count("*").alias("n")).collect()}
    assert cnt == {"d0": 2, "d2": 100, "d3": 100}
    with pytest.raises(ValueError):
        S.cap_per_group(d1, -1, group_col="domain")


def test_sample_to_mixture_exact_counts(spark):
    from bioframe_spark.datapipe import sampling as S
    rows_ = ([(i, "web") for i in range(400)]
             + [(1000 + i, "wiki") for i in range(100)]
             + [(2000 + i, "code") for i in range(50)]
             + [(9000, "junk")])
    d = spark.createDataFrame(rows_, "doc_id long, source string")
    m = S.sample_to_mixture(d, {"web": 0.5, "wiki": 0.3, "code": 0.2},
                            strata_col="source")
    cnt = {r["source"]: r["n"] for r in
           m.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # T = min(400/.5, 100/.3, 50/.2) = 250 -> caps 125/75/50; junk dropped
    assert cnt == {"web": 125, "wiki": 75, "code": 50}
    with pytest.raises(ValueError, match="sum to 1"):
        S.sample_to_mixture(d, {"web": 0.5}, strata_col="source")
    with pytest.raises(ValueError, match="no rows"):
        S.sample_to_mixture(d, {"web": 0.5, "nope": 0.5},
                            strata_col="source")


# --------------------------------------------------------------------------
# driver-side local merge kernel + ANSI sentinel-overflow fix (r5)
# --------------------------------------------------------------------------

INT64_MAX = (1 << 63) - 1


def _canon_cols(df):
    key = lambda t: tuple((v is None, str(type(v)), v) for v in t)
    return sorted([tuple(r) for r in df.collect()], key=key), df.columns


@pytest.mark.parametrize("min_dist", [0, 7, None])
def test_merge_local_kernel_equivalence(spark, min_dist):
    """The small-input driver kernel is value-identical to every
    distributed construction — including on INT64_MAX sentinel ends
    (complement output), duplicate points, and null rows."""
    data = [("chr1", 0, 10), ("chr1", 8, 20), ("chr1", 20, 25),
            ("chr1", 5, 5), ("chr1", 5, 5), ("chr2", 0, 3),
            ("chrX", 100, INT64_MAX), ("chrX", 50, INT64_MAX),
            ("chrX", INT64_MAX - 3, INT64_MAX),
            (None, 1, 2), ("chr1", None, None)]
    df = ivals(spark, data)
    base = _canon_cols(
        bf.merge(df, min_dist=min_dist, local=False, premerge=False,
                 range_width=None))
    assert _canon_cols(bf.merge(df, min_dist=min_dist, local=True)) == base
    assert _canon_cols(
        bf.merge(df, min_dist=min_dist, local=False, premerge=True,
                 range_width=None)) == base
    assert _canon_cols(
        bf.merge(df, min_dist=min_dist, local=False, premerge=True,
                 range_width=7)) == base
    assert _canon_cols(
        bf.merge(df, min_dist=min_dist, local=False, premerge=False,
                 range_width=7)) == base


@pytest.mark.parametrize("min_dist", [0, None])
def test_merge_array_on_keys(spark, min_dist):
    """Array-typed ``on`` keys: the default plan (no size estimate, so
    the auto fuse would engage) skips the map-side fuse, whose pandas
    grouping cannot hash arrays, and equals raw classic and raw ranged;
    an explicit premerge raises, for merge and for cluster."""
    data = [("chr1", 0, 10, [1]), ("chr1", 8, 20, [1]), ("chr1", 9, 12, [2]),
            ("chr1", 5, 5, [1]), ("chr1", 5, 5, [1]),
            ("chr2", 0, INT64_MAX, [1]), ("chr2", 50, INT64_MAX, [1]),
            ("chr1", 3, 4, None)]
    df = ivals(spark, data, extra=[("tag", "array<int>")])
    base = _canon_cols(bf.merge(df, min_dist=min_dist, on=["tag"],
                                premerge=False, range_width=None))
    assert len(base[0]) == 4
    assert _canon_cols(bf.merge(df, min_dist=min_dist, on=["tag"])) == base
    assert _canon_cols(bf.merge(df, min_dist=min_dist, on=["tag"],
                                premerge=False, range_width=7)) == base
    with pytest.raises(ValueError, match="atomic"):
        bf.merge(df, min_dist=min_dist, on=["tag"], premerge=True)
    with pytest.raises(ValueError, match="atomic"):
        bf.cluster(df, min_dist=0, on=["tag"], premerge=True)


def test_merge_sentinel_min_dist_no_ansi_overflow(spark):
    """Pre-r5 bug: merge(min_dist>0) on sentinel ends crashed every
    distributed path with ARITHMETIC_OVERFLOW under ANSI mode
    (running_max + min_dist). Now an overflowing border is simply
    false (nothing can start beyond INT64_MAX)."""
    df = ivals(spark, [("chr1", 0, INT64_MAX), ("chr1", 5, 10)])
    for kw in (dict(local=False, premerge=False, range_width=None),
               dict(local=False, premerge=True, range_width=None),
               dict(local=False, premerge=False, range_width=100),
               dict(local=True)):
        out = bf.merge(df, min_dist=9, **kw).collect()
        assert len(out) == 1 and out[0]["n_intervals"] == 2


def test_merge_local_cap_fallback(spark):
    df = ivals(spark, [("chr1", i * 10, i * 10 + 5) for i in range(30)])
    spark.conf.set("spark.bioframe.smallInputMaxRows", "3")
    try:
        a = _canon_cols(bf.merge(df, local="auto"))
    finally:
        spark.conf.unset("spark.bioframe.smallInputMaxRows")
    assert a == _canon_cols(bf.merge(df, local=False, premerge=False,
                                     range_width=None))


def test_closest_sentinel_ends_all_strategies(spark):
    """Pre-r5 bug: binned closest on INT64_MAX sentinel ends crashed
    (span literal past int64; probe pad overflow under ANSI). All three
    strategies must run and agree. A point AT INT64_MAX has zero width
    in every kernel: it overlaps nothing, so with ``ignore_overlaps`` it
    is still the closest interval to the other point at INT64_MAX."""
    d1 = ivals(spark, [("chr1", 0, 10), ("chr1", 50, INT64_MAX),
                       ("chr1", 200, 250), ("chr1", INT64_MAX, INT64_MAX)])
    d2 = ivals(spark, [("chr1", 20, 30), ("chr1", 500, 600),
                       ("chr1", INT64_MAX, INT64_MAX)])
    pt = (INT64_MAX, INT64_MAX, 0)
    expect = {False: [(0, 20, 10), (50, 500, 0), (200, 20, 170), pt],
              True: [(0, 20, 10), (50, INT64_MAX, 0), (200, 20, 170), pt]}
    for ignore in (False, True):
        outs = {}
        for strat in ("cogroup", "broadcast", "binned"):
            out = bf.closest(d1, d2, strategy=strat, suffixes=("", "_x"),
                             ignore_overlaps=ignore)
            outs[strat], cols = rows(out)
        assert outs["cogroup"] == outs["broadcast"] == outs["binned"]
        pick = [cols.index(c) for c in ("start", "start_x", "distance")]
        assert sorted(tuple(t[i] for i in pick)
                      for t in outs["binned"]) == expect[ignore]


def test_expand_sentinel_saturates(spark):
    """expand on complement output (INT64_MAX sentinel ends) saturates
    at +/-INT64_MAX instead of raising ARITHMETIC_OVERFLOW (pad mode)
    or CAST_OVERFLOW (scale mode)."""
    df = ivals(spark, [("chr1", 0, 10), ("chr1", 50, INT64_MAX)])
    out = {r["start"]: r["end"] for r in bf.expand(df, pad=100).collect()}
    assert out == {-100: 110, -50: INT64_MAX}
    got = sorted((r["start"], r["end"])
                 for r in bf.expand(df, scale=2.0).collect())
    assert got[0][1] == INT64_MAX and got[1] == (-5, 15)
    # negative pad midpoint rule unchanged on normal data
    d2 = ivals(spark, [("chr1", 0, 10)])
    assert tuple(bf.expand(d2, pad=-8).collect()[0][1:3]) == (5, 5)


def test_pair_by_distance_sentinel_no_overflow(spark):
    """Midpoint is s+(e-s)/2 (the naive (s+e)/2 SUM overflows int64 on
    sentinel ends) and probe arithmetic saturates — pairing a
    complement output works in both relative_to modes."""
    df = ivals(spark, [("chr1", 0, 10), ("chr1", 50, INT64_MAX),
                       ("chr1", 100, 200)])
    assert bf.pair_by_distance(df, min_sep=0, max_sep=1000).count() == 1
    assert bf.pair_by_distance(df, min_sep=0, max_sep=1000,
                               relative_to="endpoints").count() == 2
