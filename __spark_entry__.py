"""Driver contract for the spark-graft builder (PySpark target).

The testdata is TPC-H-ish, not genomic, so every interval query first
*derives* deterministic interval tables from the parquet (pure integer
arithmetic — identical in Spark and DuckDB), then applies a
``bioframe_spark`` operator. Each ``oracle_sql()`` entry re-derives the
same intervals in a CTE and expresses the operator in ANSI SQL.

Determinism rules (so value-hashes match across engines):
- integer arithmetic only in derivations (%, *, +);
- doubles appear only as single correctly-rounded expressions over
  integers (sqrt/div on quantized values) or as order-independent
  aggregates (min/max);
- every computed column aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import bioframe_spark as bf
from bioframe_spark.datapipe import dedup, packing, sampling, similarity, text

SF_DEFAULT = "/root/testdata/sf0.001"

# Session-memoized fixture registry (stream chunk dirs, prebinned
# tables, persisted IVF / MinHash indexes): the one-time write is the
# recurring investment, reps/queries time the operator. Entries hold a
# WEAKREF to the owning session, not its id(): CPython reuses id() of a
# GC'd session, and registered table names (gate_prebinned_*) are
# session-scoped — an id-keyed memo could hand a NEW session a stale
# path/table registration. A miss (referent gone, or a different live
# session) rebuilds.
_STREAM_SRC: dict = {}


def _session_memo(spark, key, build):
    import weakref

    ent = _STREAM_SRC.get(key)
    if ent is not None and ent[0]() is spark:
        return ent[1]
    val = build()
    _STREAM_SRC[key] = (weakref.ref(spark), val)
    return val

N_CHROMS = 8
CLEN = 500300  # covers max derived end (500000 + 1 + 200)
ARM_MID = 250000


# --------------------------------------------------------------------------
# derived interval tables (Spark side) — mirrored in _CTE below
# --------------------------------------------------------------------------

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def ivals_a(spark, sf_dir) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    start = (F.col("l_partkey") * 131 + F.col("l_linenumber") * 17) % 500000
    return li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("aid"),
        F.concat(F.lit("chr"), (F.col("l_orderkey") % N_CHROMS).cast("string")).alias("chrom"),
        start.cast("long").alias("start"),
        (start + 1 + (F.col("l_suppkey") * 7 + F.col("l_linenumber")) % 200)
        .cast("long").alias("end"),
        F.when(F.col("l_linenumber") % 2 == 0, "+").otherwise("-").alias("strand"),
        F.col("l_quantity").cast("long").alias("qty"),
    )


def ivals_b(spark, sf_dir) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    start = (F.col("o_custkey") * 211 + F.col("o_orderkey") % 97) % 500000
    return o.select(
        F.col("o_orderkey").alias("bid"),
        F.concat(F.lit("chr"), (F.col("o_orderkey") % N_CHROMS).cast("string")).alias("chrom"),
        start.cast("long").alias("start"),
        (start + 1 + F.col("o_orderkey") % 300).cast("long").alias("end"),
        F.when(F.col("o_orderkey") % 2 == 0, "+").otherwise("-").alias("strand"),
    )


def ivals_s(spark, sf_dir) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    start = (F.col("s_suppkey") * 57) % 10000
    return s.select(
        F.col("s_suppkey").alias("sid"),
        F.concat(F.lit("chr"), (F.col("s_suppkey") % 4).cast("string")).alias("chrom"),
        start.cast("long").alias("start"),
        (start + 1 + F.col("s_suppkey") % 40).cast("long").alias("end"),
    )


def ivals_p(spark, sf_dir) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    start = (F.col("p_partkey") * 37) % 10000
    return p.select(
        F.col("p_partkey").alias("pid"),
        F.concat(F.lit("chr"), (F.col("p_partkey") % 4).cast("string")).alias("chrom"),
        start.cast("long").alias("start"),
        (start + 1 + F.col("p_size") % 30).cast("long").alias("end"),
    )


def chromsizes() -> dict:
    return {f"chr{i}": CLEN for i in range(N_CHROMS)}


def arms_view() -> list:
    out = []
    for i in range(N_CHROMS):
        out.append((f"chr{i}", 0, ARM_MID, f"chr{i}_p"))
        out.append((f"chr{i}", ARM_MID, CLEN, f"chr{i}_q"))
    return out


# shared CTE prefix for every oracle (DuckDB dialect)
_CTE = f"""
WITH a AS (
  SELECT l_orderkey * 10 + l_linenumber AS aid,
         'chr' || (l_orderkey % {N_CHROMS}) AS chrom,
         (l_partkey * 131 + l_linenumber * 17) % 500000 AS start,
         (l_partkey * 131 + l_linenumber * 17) % 500000 + 1
           + (l_suppkey * 7 + l_linenumber) % 200 AS "end",
         CASE WHEN l_linenumber % 2 = 0 THEN '+' ELSE '-' END AS strand,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem
), b AS (
  SELECT o_orderkey AS bid,
         'chr' || (o_orderkey % {N_CHROMS}) AS chrom,
         (o_custkey * 211 + o_orderkey % 97) % 500000 AS start,
         (o_custkey * 211 + o_orderkey % 97) % 500000 + 1 + o_orderkey % 300 AS "end",
         CASE WHEN o_orderkey % 2 = 0 THEN '+' ELSE '-' END AS strand
  FROM orders
), s AS (
  SELECT s_suppkey AS sid,
         'chr' || (s_suppkey % 4) AS chrom,
         (s_suppkey * 57) % 10000 AS start,
         (s_suppkey * 57) % 10000 + 1 + s_suppkey % 40 AS "end"
  FROM supplier
), p AS (
  SELECT p_partkey AS pid,
         'chr' || (p_partkey % 4) AS chrom,
         (p_partkey * 37) % 10000 AS start,
         (p_partkey * 37) % 10000 + 1 + p_size % 30 AS "end"
  FROM part
), chroms AS (
  SELECT 'chr' || g AS chrom, CAST({CLEN} AS BIGINT) AS clen
  FROM (SELECT unnest(generate_series(0, {N_CHROMS - 1})) AS g)
), arms AS (
  SELECT 'chr' || g AS chrom, 0 AS vs, {ARM_MID} AS ve, 'chr' || g || '_p' AS vname
  FROM (SELECT unnest(generate_series(0, {N_CHROMS - 1})) AS g)
  UNION ALL
  SELECT 'chr' || g, {ARM_MID}, {CLEN}, 'chr' || g || '_q'
  FROM (SELECT unnest(generate_series(0, {N_CHROMS - 1})) AS g)
)
"""

# reusable gaps-and-islands SQL over table x(chrom,start,"end").
# Islands are computed over DISTINCT intervals with a multiplicity count:
# duplicate sort keys would make the two window passes tie-unstable.
def _islands_sql(src: str, min_dist_clause: str = "start > prev_max") -> str:
    return f"""
  SELECT chrom, start, "end", cnt,
         SUM(CASE WHEN prev_max IS NULL OR {min_dist_clause} THEN 1 ELSE 0 END)
           OVER (PARTITION BY chrom ORDER BY start, "end"
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM (
    SELECT chrom, start, "end", cnt,
           MAX("end") OVER (PARTITION BY chrom ORDER BY start, "end"
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
    FROM (SELECT chrom, start, "end", COUNT(*) AS cnt FROM {src} GROUP BY 1, 2, 3)
  )
"""


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def q_overlap_inner(spark, sf_dir):
    a, b = ivals_a(spark, sf_dir), ivals_b(spark, sf_dir)
    return bf.overlap(a, b, how="inner", suffixes=("", "_b"))


def q_overlap_left(spark, sf_dir):
    a, b = ivals_a(spark, sf_dir), ivals_b(spark, sf_dir)
    return bf.overlap(a, b, how="left", suffixes=("", "_b"))


def q_overlap_binned(spark, sf_dir):
    a, b = ivals_a(spark, sf_dir), ivals_b(spark, sf_dir)
    return bf.overlap(a, b, how="inner", suffixes=("", "_b"),
                      strategy="binned")


def q_overlap_prebinned(spark, sf_dir):
    """The persisted pre-binned bucketed layout end-to-end: ``with_bin``
    both derived tables onto a common 10 kb grid, persist each
    ``bucketBy(8, chrom, bin)`` + ``sortBy(start, end)`` via
    ``saveAsTable``, then join the CATALOG tables with
    ``overlap_prebinned`` — pair-identical to ``overlap(how='inner')``
    (kept-once rule on the shared grid), hence the same oracle SQL as
    ``overlap_inner``.  The recurring-join plan this layout buys (zero
    Exchange on either side, bucket-pairwise scans) is asserted in
    tests/test_physical_plans.py."""
    import tempfile

    from bioframe_spark.sources.fileops import write_prebinned

    # explicit external-table paths: the gate row must not depend on the
    # harness session having a writable default warehouse directory
    def _build():
        # the bucketed layout is the recurring-join INVESTMENT — write it
        # once per (session, sf_dir); reps/queries time the join it buys
        loc = tempfile.mkdtemp(prefix="gate_prebinned_")
        a, b = ivals_a(spark, sf_dir), ivals_b(spark, sf_dir)
        write_prebinned(a, "gate_prebinned_a", num_buckets=8, path=f"{loc}/a")
        write_prebinned(b, "gate_prebinned_b", num_buckets=8, path=f"{loc}/b")
        return loc

    _session_memo(spark, ("prebinned", sf_dir), _build)
    return bf.overlap_prebinned(spark.table("gate_prebinned_a"),
                                spark.table("gate_prebinned_b"),
                                suffixes=("", "_b"))


def q_overlap_on(spark, sf_dir):
    a, b = ivals_a(spark, sf_dir), ivals_b(spark, sf_dir)
    return bf.overlap(a, b, how="inner", suffixes=("", "_b"), on=["strand"])


def q_count_overlaps(spark, sf_dir):
    a, b = ivals_a(spark, sf_dir), ivals_b(spark, sf_dir)
    return bf.count_overlaps(a, b.select("chrom", "start", "end"))


def q_coverage(spark, sf_dir):
    a, b = ivals_a(spark, sf_dir), ivals_b(spark, sf_dir)
    return bf.coverage(a, b.select("chrom", "start", "end"))


def q_setdiff(spark, sf_dir):
    a, b = ivals_a(spark, sf_dir), ivals_b(spark, sf_dir)
    return bf.setdiff(a, b)


def q_merge(spark, sf_dir):
    return bf.merge(ivals_a(spark, sf_dir).select("chrom", "start", "end"), min_dist=0)


def q_merge_strict(spark, sf_dir):
    return bf.merge(ivals_a(spark, sf_dir).select("chrom", "start", "end"),
                    min_dist=None)


def q_cluster(spark, sf_dir):
    return bf.cluster(ivals_s(spark, sf_dir), min_dist=0)


def q_complement(spark, sf_dir):
    return bf.complement(ivals_a(spark, sf_dir).select("chrom", "start", "end"),
                         view_df=chromsizes())


def q_closest(spark, sf_dir):
    return bf.closest(ivals_p(spark, sf_dir), ivals_s(spark, sf_dir),
                      k=1, suffixes=("", "_s"))


def q_closest_k2(spark, sf_dir):
    return bf.closest(ivals_p(spark, sf_dir), ivals_s(spark, sf_dir),
                      k=2, suffixes=("", "_s"))


def q_closest_broadcast(spark, sf_dir):
    """The broadcast-kernel closest shape: a LARGE probe table annotated
    against a small collected dimension — df1 never shuffles, parallelism
    is scan partitions (strategy pinned so the bench row always times the
    kernel). Chromosomes absent from the annotation side (a spans chr0-7,
    s only chr0-3) left-complete with null partner columns."""
    return bf.closest(ivals_a(spark, sf_dir), ivals_s(spark, sf_dir),
                      k=1, suffixes=("", "_s"), strategy="broadcast")


def q_subtract(spark, sf_dir):
    a, b = ivals_a(spark, sf_dir), ivals_b(spark, sf_dir)
    return bf.subtract(a, b.select("chrom", "start", "end"))


def q_trim_expand(spark, sf_dir):
    a = ivals_a(spark, sf_dir)
    return bf.trim(bf.expand(a, pad=5000), view_df=chromsizes()).drop("__region")


def q_expand_scale(spark, sf_dir):
    return bf.expand(ivals_a(spark, sf_dir), scale=3)


def q_select_region(spark, sf_dir):
    return bf.select(ivals_a(spark, sf_dir), "chr1:1000-25000")


def q_assign_view(spark, sf_dir):
    return bf.assign_view(ivals_a(spark, sf_dir), arms_view())


def q_binnify(spark, sf_dir):
    return bf.binnify(chromsizes(), binsize=50_000)


def q_pair_by_distance(spark, sf_dir):
    return bf.pair_by_distance(ivals_s(spark, sf_dir), min_sep=10, max_sep=2000,
                               suffixes=("_1", "_2"))


def q_pileup(spark, sf_dir):
    return bf.pileup(ivals_a(spark, sf_dir))


def _bins_with_val(spark, sf_dir):
    bins = bf.binnify(chromsizes(), binsize=50_000)
    i = (F.col("start") / 50_000).cast("long")
    return bins.withColumn("val", ((i / 3).cast("long") % 2))


def q_mark_runs(spark, sf_dir):
    return bf.mark_runs(_bins_with_val(spark, sf_dir), "val")


def q_merge_runs(spark, sf_dir):
    return bf.merge_runs(_bins_with_val(spark, sf_dir), "val",
                         agg={"n_bins": F.count(F.lit(1))})


def q_gene_coverage(spark, sf_dir):
    a, b = ivals_a(spark, sf_dir), ivals_b(spark, sf_dir)
    out = bf.frac_gene_coverage(a, b.select("chrom", "start", "end"))
    return out.select(
        "aid", "chrom", "start", "end", "strand", "qty", "coverage", "n_genes",
        F.round("gene_coverage", 9).alias("gene_coverage"),
    )


def q_dedup_exact(spark, sf_dir):
    return dedup.exact_duplicates(_t(spark, sf_dir, "documents"))


def q_text_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return text.quality_features(docs).select(
        "doc_id", "n_tokens", "n_distinct_tokens", "n_chars_calc",
        "n_stopwords", "lang_pred",
    )


def q_text_fingerprints(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.fingerprint(F.col("text")).alias("md5_fp"),
        text.rolling_fingerprint_poly(F.col("text")).alias("rolling_fp"),
        text.bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


def q_jaccard_cutoff(spark, sf_dir):
    """Skew-guard variant: exact Jaccard over shingles with document
    frequency <= 3 (the hot-shingle d^2 join blowup removed)."""
    return dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"),
                                     n=3, threshold=0.5, max_doc_freq=3)


def q_language_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    hit_cols = [f"{lg}_hits" for lg in text.LANG_PROFILES]
    return text.language_id(docs).select("doc_id", "lang_pred", *hit_cols)


def q_jaccard_pairs(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"),
                                     n=3, threshold=0.5)


def q_sample_users(spark, sf_dir):
    """Group-stable deterministic sampling: keep ~30% of USERS (every
    kept user's events survive intact) — map-only, retry-stable."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sampling.deterministic_sample(
        ev, 0.3, key_col="user_id", seed=7).select("event_id", "user_id")


def q_sample_mix(spark, sf_dir):
    """Data-mixing primitive: per-source sampling fractions as a literal
    map (keep all of src0, half of src1, a tenth of the rest)."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.stratified_sample(
        docs, {"src0": 1.0, "src1": 0.5, "src2": 0.25},
        strata_col="source", key_col="doc_id", seed=3,
        default_fraction=0.1).select("doc_id", "source")


def q_train_split(spark, sf_dir):
    """Hash-disjoint train/val tagging, stable across retries/engines."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.train_val_split(
        docs, 0.2, key_col="doc_id", seed=5).select("doc_id", "split")


def q_domain_cap(spark, sf_dir):
    """URL hygiene + per-domain caps (the RefinedWeb/C4 source-filter
    stage): synthesize a deterministic URL per doc (some unparseable,
    some www./sub.-prefixed), drop blocklisted domains (suffix matching
    blocks subdomains), then keep at most 5 docs per domain via the
    skew-safe two-phase smallest-hash top-n."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.when(d % 11 == 0, F.lit("not a url")).otherwise(F.concat(
        F.lit("https://"),
        F.when(d % 7 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit("sub.")).otherwise(F.lit("")),
        F.lit("d"), (d % 13).cast("string"),
        F.when(d % 3 == 0, F.lit(".com"))
        .when(d % 3 == 1, F.lit(".org")).otherwise(F.lit(".net")),
        F.lit("/p/"), d.cast("string")))
    aug = docs.select("doc_id", url.alias("url"))
    kept = text.filter_blocked_domains(aug, ["d1.org", "d2.net"],
                                       url_col="url")
    dom = kept.withColumn("domain", text.extract_domain(F.col("url")))
    capped = sampling.cap_per_group(dom, 5, group_col="domain",
                                    key_col="doc_id")
    return capped.select("doc_id", "url", "domain")


def q_mixture(spark, sf_dir):
    """Exact-count mixture sampling: downsample sources src0/src1/src2
    to a 50/30/20 recipe at the largest total the data supports (the
    binding stratum kept ~whole), per-stratum smallest-hash top-k —
    counts exact, selection deterministic, engine-reproducible."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.sample_to_mixture(
        docs.select("doc_id", "source"),
        {"src0": 0.5, "src1": 0.3, "src2": 0.2},
        strata_col="source", key_col="doc_id")


def q_redact(spark, sf_dir):
    """PII redaction + audit counts over the documents table. The
    corpus text is deterministically augmented with one email, URL, and
    IP per doc (both engines build the same string), counts come from
    the PRE-redaction text, and the redaction chain applies URL → email
    → IP (same order both sides)."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    aug = docs.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" contact user"), did,
                 F.lit("@example.com via https://ex"), did,
                 F.lit(".test/a?q=1 from 10.0."),
                 (F.col("doc_id") % 256).cast("string"),
                 F.lit(".7 end")).alias("text"),
    )
    out = text.redact_pii(text.redaction_counts(aug))
    # F.size is int; the oracle's list-length is BIGINT — align types
    return out.withColumns(
        {c: F.col(c).cast("long") for c in ("n_url", "n_email", "n_ip")})


def q_boilerplate(spark, sf_dir):
    """C4-style boilerplate-line removal: every doc gets a shared
    header line and a (doc_id % 7)-group footer line around its own
    text; lines appearing in >= 2 distinct docs are dropped and each
    doc is rebuilt from its surviving lines in order."""
    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(F.lit("SHARED-HEADER\n"), F.col("text"),
                 F.lit("\nFOOT-"),
                 (F.col("doc_id") % 7).cast("string")).alias("text"),
    )
    return text.remove_boilerplate_lines(aug, min_docs=2)


def q_repetition(spark, sf_dir):
    """Gopher/MassiveText repetition signals. Each doc is augmented into
    a multi-line form with a guaranteed repeated line (its own first 20
    chars, twice) so dup-line/dup-ngram numerators are non-trivial;
    signals are integer numerators/denominators (engine-exact) plus the
    deterministic top bigram."""
    docs = _t(spark, sf_dir, "documents")
    head = F.substring(F.col("text"), 1, 20)
    aug = docs.select(
        "doc_id",
        F.concat_ws("\n", F.col("text"), head, head).alias("text"),
    )
    return text.repetition_signals(aug).select(
        "doc_id", "n_lines", "n_dup_lines", "n_dup_line_chars",
        "n_ngrams", "n_dup_ngrams", "n_dup_ngram_chars",
        "top_bigram", "top_bigram_count", "top_bigram_chars")


def q_dedup_lines(spark, sf_dir):
    """C4-style corpus-level line dedup: docs are augmented with a
    (doc_id % 5)-group header line and a corpus-shared tail line around
    their own text; every line keeps only its first occurrence across
    the corpus (by doc_id, then position) and docs are rebuilt."""
    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(F.lit("GROUP-"), (F.col("doc_id") % 5).cast("string"),
                 F.lit("\n"), F.col("text"),
                 F.lit("\nCOMMON-TAIL")).alias("text"),
    )
    return text.dedup_lines(aug)


def q_gopher(spark, sf_dir):
    """Gopher-family quality filter; integer cross-multiplied rule flags
    + composite keep. Even docs get a doubled head line (dup-line
    fraction 1/3 > 30% -> r_dup_lines fails), odd docs get a unique
    line instead (passes), so every flag including keep varies."""
    docs = _t(spark, sf_dir, "documents")
    head = F.substring(F.col("text"), 1, 20)
    uniq = F.concat(F.lit("U-"), F.col("doc_id").cast("string"))
    aug = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0,
               F.concat_ws("\n", F.col("text"), head, head))
        .otherwise(F.concat_ws("\n", F.col("text"), uniq, head))
        .alias("text"),
    )
    return text.gopher_quality_filter(aug, min_words=30).select(
        "doc_id", "r_word_count", "r_mean_wordlen", "r_alpha_words",
        "r_stopwords", "r_dup_lines", "r_dup_line_chars", "r_top_bigram",
        "r_dup_ngrams", "keep")


def q_gopher_count(spark, sf_dir):
    """Gopher filter with the occurrence-COUNT dup-ngram measure
    (dup_ngram_measure='count'): thresholds duplicate n-gram
    occurrences / total n-grams instead of the char-union fraction —
    and therefore skips the char-union sweep entirely (r6: the sweep
    is computed only when the configured measure references it)."""
    docs = _t(spark, sf_dir, "documents")
    head = F.substring(F.col("text"), 1, 20)
    uniq = F.concat(F.lit("U-"), F.col("doc_id").cast("string"))
    aug = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0,
               F.concat_ws("\n", F.col("text"), head, head))
        .otherwise(F.concat_ws("\n", F.col("text"), uniq, head))
        .alias("text"),
    )
    return text.gopher_quality_filter(
        aug, min_words=30, dup_ngram_measure="count").select(
        "doc_id", "r_word_count", "r_mean_wordlen", "r_alpha_words",
        "r_stopwords", "r_dup_lines", "r_dup_line_chars", "r_top_bigram",
        "r_dup_ngrams", "keep")


def q_chunk_docs(spark, sf_dir):
    """Context-window chunking: 20-token sliding windows, 5-token
    overlap (stride 15). Map-only explode; chunk boundaries and the
    short tail are integer-exact in both engines."""
    docs = _t(spark, sf_dir, "documents")
    return packing.chunk_documents(docs, chunk_tokens=20, overlap=5)


def q_pack_seqs(spark, sf_dir):
    """Next-fit sequence packing into 80-token bins, 8 deterministic
    id-shards. Inherently sequential within a shard (exact next-fit in
    applyInPandas), parallel across shards; the oracle replays the same
    next-fit as a recursive CTE."""
    docs = _t(spark, sf_dir, "documents")
    return packing.pack_sequences(docs, max_tokens=80, num_shards=8)


def q_contamination(spark, sf_dir):
    """Benchmark decontamination: a deterministic eval set (every 50th
    doc, first half of its text + a unique marker tail) checked for
    5-gram containment in the full corpus. Half-containment makes the
    contamination fractions non-trivial; the unique tail guarantees no
    eval doc is fully contained. Division is a single IEEE op (no
    decimal rounding), so the double column hashes engine-exact."""
    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter((F.col("doc_id") % 50) == 0).select(
        "doc_id",
        F.concat(
            F.expr("substring(text, 1, cast(floor(length(text)/2) as int))"),
            F.lit(" zq"), F.col("doc_id").cast("string"),
            F.lit(" unique eval marker tail words here")).alias("text"))
    return dedup.ngram_contamination(docs, ev, n=5, threshold=0.1)


def q_curate(spark, sf_dir):
    """The end-to-end curation pipeline: quality gate → exact dedup →
    fuzzy dedup (components → canonical) → train/val split, one DAG."""
    from bioframe_spark.datapipe.pipeline import curate_corpus
    docs = _t(spark, sf_dir, "documents")
    return curate_corpus(docs, min_tokens=30, jaccard_threshold=0.5,
                         val_fraction=0.2, seed=5).select("doc_id", "split")


def q_dedup_components(spark, sf_dir):
    """Fuzzy-dedup endgame part 1: exact-Jaccard pair graph → connected
    components via hash-min label propagation (component = min doc_id)."""
    pairs = dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"),
                                      n=3, threshold=0.5)
    return dedup.connected_components(pairs).select(
        F.col("id").alias("doc_id"), "component")


def q_dedup_canonical(spark, sf_dir):
    """Fuzzy-dedup endgame part 2: keep one canonical (min-id) doc per
    near-duplicate component plus all unclustered docs."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    return dedup.drop_near_duplicates(docs, pairs).select("doc_id")


def q_minhash_lsh(spark, sf_dir):
    # md5 hash mode: engine-portable seeded hashing → exact DuckDB oracle
    return dedup.minhash_lsh_pairs(_t(spark, sf_dir, "documents"),
                                   num_hashes=32, bands=8, threshold=0.5,
                                   hash_fn="md5")


def q_simhash_pairs(spark, sf_dir):
    # md5 hash mode (60 effective bits) → exact DuckDB oracle
    # max_hamming=12 → 13 bit-slices: full pigeonhole recall guarantee
    return dedup.simhash_dup_pairs(_t(spark, sf_dir, "documents"),
                                   max_hamming=12, bits=60, hash_fn="md5")


def q_embedding_dups(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_dup_pairs(emb, threshold=0.5)


def q_ann_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb.filter(F.col("vec_id") < 10), emb, k=5)


def q_ann_ivf(spark, sf_dir):
    # train_iters=0 → smallest-id centroid init, so every step is
    # integer-exact and the DuckDB oracle mirrors the full IVF plan
    # (assignment → n_probe fan-out → in-list top-k); the Lloyd-trained
    # variant stays covered by the recall-vs-bruteforce unit test
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb.filter(F.col("vec_id") < 10), emb,
                               k=5, n_centroids=16, n_probe=4,
                               train_iters=0)


def q_ann_ivf_indexed(spark, sf_dir):
    """The persisted IVF index end-to-end: train + assign once
    (build_ivf_index → cent_id-partitioned posting lists), then answer
    the query batch from the stored index. train_iters=0 keeps every
    step integer-exact, so results are bit-identical to ann_ivf and
    share its oracle; probe-time dynamic partition pruning is asserted
    in tests/test_physical_plans.py."""
    import tempfile

    emb = _t(spark, sf_dir, "embeddings")
    def _build():
        # build once per (session, sf_dir): the index IS the recurring
        # investment; train_iters=0 makes it deterministic, so reuse is
        # value-identical to a fresh build
        p = tempfile.mkdtemp(prefix="ivf_index_q_")
        similarity.build_ivf_index(emb, p, n_centroids=16, train_iters=0)
        return p

    path = _session_memo(spark, ("ivf_index", sf_dir), _build)
    return similarity.ivf_topk_indexed(emb.filter(F.col("vec_id") < 10),
                                       path, k=5, n_probe=4)


def q_ann_lsh(spark, sf_dir):
    # md5 plane components + integer projections → exact DuckDB oracle
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.lsh_bucketed_topk(emb.filter(F.col("vec_id") < 10), emb,
                                        k=5, n_planes=6, dim=64,
                                        hash_fn="md5")


def _events(spark, sf_dir):
    """Read events with a type-adaptive ts: older testdata generations
    carried TIMESTAMP(NANOS) (readable only as raw long nanos via the
    legacy conf), newer ones TIMESTAMP(MICROS) (a real timestamp_ntz).
    The epoch-extraction helpers below normalize either to integers —
    integer division throughout because ns epochs exceed double's 53-bit
    mantissa (float division would round the millisecond)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _t(spark, sf_dir, "events")


def _ts_is_long(ev) -> bool:
    return ev.schema["ts"].dataType.simpleString() == "bigint"


def q_events_hourly(spark, sf_dir):
    ev = _events(spark, sf_dir)
    if _ts_is_long(ev):
        sec = F.expr("ts div 1000000000")
        hour = F.date_format(
            F.timestamp_seconds(sec - sec % 3600), "yyyy-MM-dd HH:mm:ss"
        )
    else:
        # session tz is UTC, so ntz → epoch is the naive-as-UTC reading,
        # identical to DuckDB's date_trunc on a naive timestamp
        hour = F.date_format(F.date_trunc("hour", F.col("ts")),
                             "yyyy-MM-dd HH:mm:ss")
    return ev.groupBy(hour.alias("hour"), F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )


def q_sessions(spark, sf_dir):
    from bioframe_spark.datapipe import events as ev_ops

    ev = _events(spark, sf_dir)
    ms = (F.expr("ts div 1000000") if _ts_is_long(ev)
          else F.expr("unix_micros(cast(ts as timestamp)) div 1000"))
    ev = ev.withColumn("ts_ms", ms)
    return ev_ops.sessionize_batch(ev, gap_ms=86_400_000)


def q_events_json(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    ).filter(F.col("k") > 50)


def q_overlap_outer(spark, sf_dir):
    a, b = ivals_a(spark, sf_dir), ivals_b(spark, sf_dir)
    return bf.overlap(a, b, how="outer", suffixes=("", "_b"))


def q_make_chromarms(spark, sf_dir):
    return bf.make_chromarms(
        chromsizes(), {f"chr{i}": ARM_MID for i in range(N_CHROMS)}
    )


def q_cluster_on(spark, sf_dir):
    return bf.cluster(ivals_b(spark, sf_dir), min_dist=0, on=["strand"])


def q_natsort_key(spark, sf_dir):
    """Natural-chromosome-order sort key parity (the load-bearing part of
    ``sort_bedframe(natsort=True)``, hash-checkable order-independently)."""
    from bioframe_spark.functions.intervals import natsort_key

    p = _t(spark, sf_dir, "part")
    n = F.col("p_partkey") % 23
    chrom = F.when(n == 21, F.lit("chrX")).when(n == 22, F.lit("chrY")).otherwise(
        F.concat(
            F.lit("chr"), (n + 1).cast("string"),
            F.when(F.col("p_partkey") % 5 == 0, F.lit("_alt")).otherwise(F.lit("")),
        )
    )
    return p.select(
        F.col("p_partkey").alias("pid"),
        chrom.alias("chrom"),
        natsort_key(chrom).alias("natkey"),
    )


def q_closest_binned(spark, sf_dir):
    """The 100 TB closest path: pure-DataFrame cap-escalation kNN. At
    gate scale this exercises the SMALL side of the r6 size gate (one
    global density cap, uniform rungs, no hints); the big side is
    pinned by q_closest_perchrom."""
    return bf.closest(ivals_p(spark, sf_dir), ivals_s(spark, sf_dir),
                      k=1, suffixes=("", "_s"), strategy="binned")


def q_closest_perchrom(spark, sf_dir):
    """The big side of the r6 closest size gate, forced at gate scale by
    dropping the crossover to 1 byte: per-chromosome round-1 caps,
    driver bin hints, per-row escalation and the cross-rung df2 persist
    — the exact machinery the small path skips. Value-identical to
    q_closest_binned by construction (same oracle). The conf is
    restored in ``finally``; the ladder is driver-eager, so every conf
    read happens inside the call."""
    spark.conf.set("spark.bioframe.closestCogroupBytes", "1")
    try:
        return bf.closest(ivals_p(spark, sf_dir), ivals_s(spark, sf_dir),
                          k=1, suffixes=("", "_s"), strategy="binned")
    finally:
        spark.conf.unset("spark.bioframe.closestCogroupBytes")


def q_merge_ranged(spark, sf_dir):
    """The 100 TB merge path: range-partitioned islands (identical output)."""
    return bf.merge(ivals_a(spark, sf_dir).select("chrom", "start", "end"),
                    min_dist=0, range_width=50_000)


def q_complement_ranged(spark, sf_dir):
    """The 100 TB complement path: local window + broadcast carry."""
    return bf.complement(ivals_a(spark, sf_dir).select("chrom", "start", "end"),
                         view_df=chromsizes(), range_width=50_000)


def q_pileup_ranged(spark, sf_dir):
    """The 100 TB pileup path: two-phase distributed scan-sum."""
    return bf.pileup(ivals_a(spark, sf_dir), range_width=50_000)


def q_pileup_weighted(spark, sf_dir):
    return bf.pileup(ivals_a(spark, sf_dir), weight_col="qty",
                     range_width=None)


def q_overlap_right(spark, sf_dir):
    a, b = ivals_a(spark, sf_dir), ivals_b(spark, sf_dir)
    return bf.overlap(a, b, how="right", suffixes=("", "_b"))


def q_setdiff_on(spark, sf_dir):
    a, b = ivals_a(spark, sf_dir), ivals_b(spark, sf_dir)
    return bf.setdiff(a, b, on=["strand"])


def q_setdiff_binned(spark, sf_dir):
    """setdiff forced onto the binned (large×large) anti-join rewrite."""
    a, b = ivals_a(spark, sf_dir), ivals_b(spark, sf_dir)
    return bf.setdiff(a, b, strategy="binned")


def q_coverage_binned(spark, sf_dir):
    """coverage forced onto the binned interval-join path."""
    a, b = ivals_a(spark, sf_dir), ivals_b(spark, sf_dir)
    return bf.coverage(a, b.select("chrom", "start", "end"), strategy="binned")


def q_count_overlaps_on(spark, sf_dir):
    a, b = ivals_a(spark, sf_dir), ivals_b(spark, sf_dir)
    return bf.count_overlaps(a, b.select("chrom", "start", "end", "strand"),
                             on=["strand"])


def q_select_indices(spark, sf_dir):
    return bf.select_indices(ivals_a(spark, sf_dir), "chr1:1000-25000")


def q_select_mask(spark, sf_dir):
    return bf.select_mask_positional(ivals_a(spark, sf_dir), "chr1:1000-25000")


def q_select_labels(spark, sf_dir):
    return bf.select_labels(ivals_a(spark, sf_dir), "chr1:1000-25000",
                            label_col="aid")


def q_sort_view_rank(spark, sf_dir):
    """View-ordered sort, hash-checkable: materialize the view-ordinal
    position (the load-bearing part of sort_bedframe's view branch —
    assign-largest-overlap + view-row ordinal) as an explicit column."""
    from pyspark.sql import Window as W

    a = ivals_a(spark, sf_dir)
    tagged = bf.assign_view(a, arms_view())
    ordmap = spark.createDataFrame(
        [(n, i + 1) for i, (_c, _s, _e, n) in enumerate(arms_view())],
        "__vn string, __ord int",
    )
    t = tagged.join(F.broadcast(ordmap),
                    F.col("view_region") == F.col("__vn"), "left")
    # full-row tie-break: aid is not unique in the derived table, so the
    # order must be total over every column for a deterministic pos
    w = W.orderBy(F.asc_nulls_last("__ord"), "chrom", "start", "end",
                  "aid", "strand", "qty")
    return (t.withColumn("pos", F.row_number().over(w).cast("long"))
            .drop("__vn", "__ord"))


def q_checks(spark, sf_dir):
    """The is_* validation predicates as one 1-row boolean frame."""
    from bioframe_spark.core import checks

    a = ivals_a(spark, sf_dir)
    view = spark.createDataFrame(
        arms_view(), "chrom string, start long, end long, name string"
    )
    vals = (
        checks.is_bedframe(a),
        checks.is_overlapping(a),
        checks.is_viewframe(view),
        checks.is_contained(a, view),
        checks.is_covering(a, view),
        checks.is_tiling(a, view),
    )
    return spark.createDataFrame(
        [vals],
        "is_bedframe boolean, is_overlapping boolean, is_viewframe boolean, "
        "is_contained boolean, is_covering boolean, is_tiling boolean",
    )


def q_media_pipeline(spark, sf_dir):
    """Multimodal binary-column plumbing, oracle-checked: synthesize an
    opaque payload (utf-8 bytes of the document text) + typed metadata,
    run the frame-sampling explode plan, and verify byte-exact binary
    expressions (md5 / octet_length) plus the frame arithmetic."""
    from bioframe_spark.datapipe import multimodal

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            (F.length("text") % 5000 + 1000).cast("long").alias("duration_ms"),
            F.lit("fake").alias("codec"),
        ).alias("meta"),
    )
    frames = multimodal.frame_sample_plan(media, every_ms=500)
    agg = frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.max("frame_ts_ms").alias("last_ts"),
    )
    return media.join(agg, "media_id").select(
        "media_id",
        F.md5("payload").alias("payload_md5"),
        F.octet_length("payload").alias("n_bytes"),
        "n_frames", "last_ts",
    )


# --------------------------------------------------------------------------
# sequence-family queries over a DETERMINISTIC synthetic genome: the base at
# (chrom cid, position p) is 'N' when p % 17 == 0 else "ACGT"[(7p + 13·cid) % 4]
# — pure integer arithmetic, so DuckDB can regenerate the exact genome
# per-position and the GC/digest results are value-hash comparable.
# --------------------------------------------------------------------------

def _synth_fasta_provider():
    def fetch(chrom: str, start: int, end: int) -> str:
        cid = int(chrom[3:])
        return "".join(
            "N" if p % 17 == 0 else "ACGT"[(7 * p + 13 * cid) % 4]
            for p in range(max(start, 0), max(end, 0))
        )
    return fetch


def seq_ivals(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    start = (F.col("p_partkey") * 37) % 100000
    return p.select(
        F.col("p_partkey").cast("long").alias("pid"),
        F.concat(F.lit("chr"), (F.col("p_partkey") % 3).cast("string")).alias("chrom"),
        start.cast("long").alias("start"),
        (start + 20 + (F.col("p_partkey") % 60)).cast("long").alias("end"),
    )


def q_frac_gc(spark, sf_dir):
    """frac_gc + frac_mapped over the synthetic genome (mapInPandas with a
    per-executor provider; GC over non-N bases, frac_mapped = non-N/len)."""
    iv = seq_ivals(spark, sf_dir)
    prov = _synth_fasta_provider()
    return bf.frac_mapped(bf.frac_gc(iv, prov, mapped_only=True), prov)


DIGEST_CHROMS = {"chr0": 30000, "chr1": 27001}


def q_digest(spark, sf_dir):
    """Restriction digest of the synthetic genome at site 'ATGC' (the only
    4-mer the 7-step base cycle can produce from index 0), cut offset 0."""
    prov = _synth_fasta_provider()
    return bf.digest(DIGEST_CHROMS, prov, "ATGC")


def _stream_source(spark, sf_dir):
    """Session-memoized 3-chunk parquet source for the streaming gate
    rows. Every stream_* query streams the SAME deterministic split of
    the derived ``a`` intervals, so the source is written once per
    (session, sf_dir) — previously each query (and each bench rep)
    re-derived and re-wrote it, timing the scaffolding instead of the
    operator (3 derivation scans + 3 writes per run). The one-time
    write persists the derived frame so the three chunk filters read
    the cache, not three plan re-executions."""
    import tempfile

    def _build():
        src = tempfile.mkdtemp(prefix="stream_gate_q_")
        iv = ivals_a(spark, sf_dir).select("chrom", "start", "end").persist()
        try:
            chunk = F.pmod(F.xxhash64("chrom", "start", "end"), F.lit(3))
            for c in range(3):
                iv.filter(chunk == c).coalesce(1).write.mode(
                    "overwrite").parquet(f"{src}/f{c}")
        finally:
            iv.unpersist()
        return src

    return _session_memo(spark, ("stream", sf_dir), _build)


def _doc_stream_source(spark, sf_dir):
    """Session-memoized 3-chunk parquet source of (doc_id, text) —
    shared by the document-streaming gate rows (span decontamination,
    quality-at-ingest). One-time write per (session, sf_dir): the
    chunk split is deterministic, so reps/queries time the operator,
    not derivation scans + rewrites (same memo as _stream_source)."""
    import tempfile

    def _build():
        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        src = tempfile.mkdtemp(prefix="stream_contam_q_")
        chunk = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(3))
        dc = docs.persist()
        try:
            for c in range(3):
                dc.filter(chunk == c).coalesce(1).write.mode(
                    "overwrite").parquet(f"{src}/f{c}")
        finally:
            dc.unpersist()
        return src

    return _session_memo(spark, ("contam", sf_dir), _build)


def _drive_stream(spark, sf_dir, build, capture):
    """Shared drive-to-completion scaffolding for the streaming gate
    rows: the derived ``a`` intervals split into three deterministic
    chunk files, consumed one micro-batch per file
    (maxFilesPerTrigger=1 + availableNow) through the streaming operator
    ``build`` wraps; update-mode output is folded into a snapshot dict
    by ``capture(batch_pdf, snap)``.  A drive that does not finish
    within 300 s raises instead of returning a partial snapshot — a
    hung stream must fail the gate row loudly, not hash-mismatch
    mysteriously."""
    src = _stream_source(spark, sf_dir)
    stream = (spark.readStream.schema("chrom string, start long, end long")
              .option("maxFilesPerTrigger", "1").parquet(src + "/*"))
    snap = {}
    # Size the stateful shuffle to the GROUPING-KEY cardinality (chrom,
    # N_CHROMS distinct values), not the session default — r10 moves the
    # r9 harness pin into the package (stream_ops.sized_state_shuffle,
    # where the mechanism and the measurement are documented) so
    # production streams get the same win.
    from bioframe_spark.streaming.stream_ops import sized_state_shuffle
    # Ephemeral per-drive checkpoint on tmpfs (r9, guide §6): the drive
    # recomputes everything from the chunk files each call and discards
    # its checkpoint, so its offset/commit/state-delta writes (8 stores x
    # 3 batches + CRC sidecars) are pure harness I/O. Measured effect is
    # small: one interleaved A/B read ~0.2 s/drive, a later 3x-interleaved
    # re-check read a wash at warm steady-state with ~0.5 s off the cold
    # first drive — kept because it moves pure-scratch writes off the
    # data filesystem either way. Production streams that need recovery
    # set a durable location instead (SPARK_GRAFT_STREAM_CKPT_DIR).
    import os
    import shutil
    import tempfile
    ck_root = os.environ.get(
        "SPARK_GRAFT_STREAM_CKPT_DIR",
        "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir())
    ck = tempfile.mkdtemp(prefix="stream_gate_ck_", dir=ck_root)
    try:
        with sized_state_shuffle(spark, N_CHROMS):
            q = (build(stream).writeStream
                 .option("checkpointLocation", ck)
                 .foreachBatch(lambda bdf, _bid: capture(bdf.toPandas(), snap))
                 .outputMode("update").trigger(availableNow=True).start())
            # the conf is captured into the stream's offset metadata when
            # the FIRST micro-batch is constructed (async, after start())
            # — the sizing window must span awaitTermination
            finished = q.awaitTermination(300)
            q.stop()
    finally:
        shutil.rmtree(ck, ignore_errors=True)
    if not finished:
        raise TimeoutError("streaming gate query still running after 300 s")
    return snap


def q_stream_merge(spark, sf_dir):
    """STREAMING interval merge driven to completion through
    ``stream_merge``'s stateful island state; the returned batch frame is
    the final snapshot — value-identical to batch merge and therefore to
    the same DuckDB islands oracle, which makes the streaming operator
    itself hash-checkable (update-mode state is exact under any batch
    split; see streaming/stream_ops.py)."""
    from bioframe_spark.streaming import stream_ops

    def cap(pdf, snap):
        # stream_merge emits each touched chromosome's FULL island set
        # per batch — replace that chromosome's snapshot wholesale
        for chrom, grp in pdf.groupby("chrom"):
            snap[chrom] = list(zip(grp["start"], grp["end"],
                                   grp["n_intervals"]))

    snap = _drive_stream(spark, sf_dir,
                         lambda s: stream_ops.stream_merge(s, min_dist=0),
                         cap)
    data = [(c, int(s), int(e), int(n))
            for c, isl in snap.items() for s, e, n in isl]
    return spark.createDataFrame(
        data, "chrom string, start long, end long, n_intervals long")


def q_stream_complement(spark, sf_dir):
    """STREAMING complement driven to completion: per-chrom gap
    snapshots against the fixed view (state = the running island set,
    shared machinery with stream_merge). The final snapshot equals the
    batch complement over every streamed row for the touched
    chromosomes — the DuckDB oracle replays exactly that (zero-width
    snapshot-clear sentinels are dropped on capture)."""
    from bioframe_spark.streaming import stream_ops

    view = chromsizes()

    def cap(pdf, snap):
        for chrom, grp in pdf.groupby("chrom"):
            snap[chrom] = [(int(s), int(e))
                           for s, e in zip(grp["start"], grp["end"])
                           if s < e]

    snap = _drive_stream(
        spark, sf_dir, lambda s: stream_ops.stream_complement(s, view), cap)
    data = [(c, s, e) for c, gaps in snap.items() for s, e in gaps]
    return spark.createDataFrame(data, "chrom string, start long, end long")


def q_semdedup(spark, sf_dir):
    """SemDeDup-style semantic dedup (r6): every tenth vector gets a
    perturbed near-copy (x*0.9 + 0.01 — same direction, cosine ~1) with
    an offset id; the operator must cluster, pair the copies inside
    their clusters, and keep exactly one representative per duplicate
    group (lowest cosine-to-centroid, ties to the smaller id).
    train_iters=0 pins the deterministic smallest-id centroid init so
    DuckDB can replicate the clustering exactly (same device as the
    ann_ivf oracle)."""
    from bioframe_spark.datapipe import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double"))
        .alias("embedding"))
    pert = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding",
                    lambda x: x.cast("double") * 0.9 + 0.01)
        .alias("embedding"))
    return similarity.semantic_dedup(base.unionByName(pert),
                                     threshold=0.9, train_iters=0)


def q_stream_cluster(spark, sf_dir):
    """STREAMING cluster driven to completion (r6): per-chrom snapshots
    of the distinct-row set with multiplicities and island-assigned
    cluster ids (state shared with the stream_merge island machinery;
    ids are per-chrom dense ordinals by island start — the documented
    deviation from batch cluster's global numbering). The final
    snapshot equals the batch islands construction over every streamed
    row, which the DuckDB oracle replays directly."""
    from bioframe_spark.streaming import stream_ops

    def cap(pdf, snap):
        for chrom, grp in pdf.groupby("chrom"):
            snap[chrom] = [
                (int(s), int(e), int(n), int(c), int(cs), int(ce))
                for s, e, n, c, cs, ce in zip(
                    grp["start"], grp["end"], grp["n_copies"],
                    grp["cluster"], grp["cluster_start"],
                    grp["cluster_end"])]

    snap = _drive_stream(
        spark, sf_dir, lambda s: stream_ops.stream_cluster(s, min_dist=0),
        cap)
    data = [(c, s, e, n, cl, cs, ce)
            for c, rows_ in snap.items() for s, e, n, cl, cs, ce in rows_]
    return spark.createDataFrame(
        data, "chrom string, start long, end long, n_copies long, "
              "cluster long, cluster_start long, cluster_end long")


def q_stream_count(spark, sf_dir):
    """STREAMING running count-overlaps against a static annotation
    table, driven to completion (broadcast stream-static join + an
    incremental count keyed by the annotation row, update mode).  The
    final snapshot per annotation equals the batch inner-join count —
    annotations the stream never touches never emit, so the oracle is
    the plain inner-join ``GROUP BY`` (no zero-fill)."""
    from bioframe_spark.streaming import stream_ops

    ann = ivals_b(spark, sf_dir)

    def cap(pdf, snap):
        for r in pdf.itertuples(index=False):
            snap[r.bid] = r  # bid is unique per annotation row

    snap = _drive_stream(
        spark, sf_dir,
        lambda s: stream_ops.stream_count_overlaps_static(s, ann), cap)
    data = [(int(r.bid), r.chrom, int(r.start), int(r.end), r.strand,
             int(r.count)) for r in snap.values()]
    return spark.createDataFrame(
        data,
        "bid long, chrom string, start long, end long, strand string, "
        "count long")


def q_stream_coverage(spark, sf_dir):
    """STREAMING running covered-bp per annotation driven to completion
    (broadcast stream-static join + incremental clipped-length sum,
    update mode).  Final snapshot = the batch per-row clipped-length sum
    (documented double-count semantics, NOT merged coverage), so the
    oracle is the inner-join SUM of clipped lengths."""
    from bioframe_spark.streaming import stream_ops

    ann = ivals_b(spark, sf_dir)

    def cap(pdf, snap):
        for r in pdf.itertuples(index=False):
            snap[r.bid] = r  # bid unique per annotation row

    snap = _drive_stream(
        spark, sf_dir,
        lambda s: stream_ops.stream_coverage_static(s, ann), cap)
    data = [(int(r.bid), r.chrom, int(r.start), int(r.end), r.strand,
             int(r.covered_bp)) for r in snap.values()]
    return spark.createDataFrame(
        data,
        "bid long, chrom string, start long, end long, strand string, "
        "covered_bp long")


def q_stream_closest(spark, sf_dir):
    """STREAMING nearest-annotation tagging driven to completion:
    stateless ``stream_closest_static`` (the collected annotation table
    broadcast to the batch closest body inside mapInArrow), so
    the union of all micro-batch emissions equals batch
    ``closest(a, b, k=1)`` — the oracle is the ranked-candidate SQL on
    the distinct stream triples joined back to every streamed copy."""
    import pandas as pd

    from bioframe_spark.streaming import stream_ops

    ann = ivals_b(spark, sf_dir)

    def cap(pdf, snap):
        snap.setdefault("rows", []).append(pdf)

    snap = _drive_stream(
        spark, sf_dir,
        lambda s: stream_ops.stream_closest_static(s, ann, k=1,
                                                   suffixes=("", "_ann")),
        cap)
    if not snap.get("rows"):
        raise RuntimeError("stream_closest drive produced no output "
                           "(empty source glob or zero-row batches)")
    allr = pd.concat(snap["rows"], ignore_index=True)
    data = [
        (r.chrom, int(r.start), int(r.end),
         None if pd.isna(r.bid_ann) else int(r.bid_ann),
         None if pd.isna(r.chrom_ann) else r.chrom_ann,
         None if pd.isna(r.start_ann) else int(r.start_ann),
         None if pd.isna(r.end_ann) else int(r.end_ann),
         None if pd.isna(r.strand_ann) else r.strand_ann,
         None if pd.isna(r.distance) else int(r.distance))
        for r in allr.itertuples(index=False)
    ]
    return spark.createDataFrame(
        data,
        "chrom string, start long, end long, bid_ann long, "
        "chrom_ann string, start_ann long, end_ann long, "
        "strand_ann string, distance long")


def q_bm25(spark, sf_dir):
    from bioframe_spark.datapipe import ranking
    docs = _t(spark, sf_dir, "documents")
    return ranking.bm25_scores(docs, "merge scan fast value")


def q_dup_spans(spark, sf_dir):
    from bioframe_spark.datapipe import dedup as ddp
    docs = _t(spark, sf_dir, "documents")
    return ddp.duplicate_spans(docs, k=25, w=16)


def q_dup_spans_join(spark, sf_dir):
    """strategy="join": the AQE-skew-rescuable hot-fingerprint physical
    path (aggregate + join-back instead of a window) — value-identical
    to q_dup_spans, so it shares the same oracle. In-gate from r7 so the
    newest physical path is pinned by the driver, not just a unit test
    (r6 verdict #4)."""
    from bioframe_spark.datapipe import dedup as ddp
    docs = _t(spark, sf_dir, "documents")
    return ddp.duplicate_spans(docs, k=25, w=16, strategy="join")


def q_bm25_multi(spark, sf_dir):
    from bioframe_spark.datapipe import ranking
    docs = _t(spark, sf_dir, "documents")
    return ranking.bm25_scores_many(
        docs, {"qa": "merge scan fast value", "qb": "table hash batch"})


def q_span_removal(spark, sf_dir):
    from bioframe_spark.datapipe import dedup as ddp
    docs = _t(spark, sf_dir, "documents")
    return ddp.remove_duplicate_spans(docs, k=25, w=16)


def q_vocab_topk(spark, sf_dir):
    from bioframe_spark.datapipe import ranking
    docs = _t(spark, sf_dir, "documents")
    return ranking.vocab_topk(docs, n=50)


def q_quality_score(spark, sf_dir):
    """Linear classifier inference (r7): fastText-style quality scoring
    — broadcast weight table, one explode + per-doc sum. Weights are
    dyadic (k/4) so every partial sum is FP-exact in any engine."""
    from bioframe_spark.datapipe import ranking
    docs = _t(spark, sf_dir, "documents")
    w = {"merge": 1.5, "scan": -0.75, "value": 0.25, "fast": 2.0,
         "hash": -1.25, "table": 0.5}
    return ranking.linear_text_score(docs, w, bias=0.25)


def q_score_buckets(spark, sf_dir):
    """CCNet head/middle/tail split (r7): exact-percentile thresholds
    from ONE aggregate re-entering as literals -> map-only assignment
    (no global sort, no corpus window)."""
    from bioframe_spark.datapipe import ranking
    return ranking.score_buckets(q_quality_score(spark, sf_dir))


def q_lm_score(spark, sf_dir):
    """Bigram-LM fluency scoring (r7): CCNet-style perplexity filter,
    self-trained add-k model — two count aggregates + shuffle joins on
    the bigram/unigram keys (reference-sized model, never broadcast)."""
    from bioframe_spark.datapipe import ranking
    docs = _t(spark, sf_dir, "documents")
    return ranking.bigram_lm_scores(docs)


def q_token_pairs(spark, sf_dir):
    """BPE merge-candidate primitive (r7): top adjacent token pairs —
    one map-only HOF + hash agg + TakeOrderedAndProject, the count step
    of a tokenizer-training loop at corpus scale."""
    from bioframe_spark.datapipe import ranking
    docs = _t(spark, sf_dir, "documents")
    return ranking.token_pair_counts(docs, n=50)


def q_minhash_probe(spark, sf_dir):
    """Incremental near-dup dedup (r8): probe a 'new crawl batch'
    (doc_id % 5 == 0) against a PERSISTED MinHash-LSH index of the rest
    of the corpus — one scan of the compact banded signature table with
    the new side broadcast; no re-mining of indexed text. md5 hash mode
    → the same engine-portable seeded hashing as q_minhash_lsh, so the
    DuckDB oracle replays both sides bit-exactly. The index build is
    memoized per (session, sf_dir): the persisted layout IS the
    recurring investment (same policy as q_ann_ivf_indexed)."""
    import tempfile
    docs = _t(spark, sf_dir, "documents")
    def _build():
        p = tempfile.mkdtemp(prefix="mh_index_q_")
        dedup.build_minhash_index(docs.filter("doc_id % 5 != 0"), p,
                                  num_hashes=32, bands=8, hash_fn="md5")
        return p

    path = _session_memo(spark, ("mh_index", sf_dir), _build)
    return dedup.minhash_lsh_probe(docs.filter("doc_id % 5 = 0"), path,
                                   threshold=0.5)


_CLF_WEIGHTS = {"merge": 1.5, "scan": -0.75, "value": 0.25,
                "fast": 2.0, "hash": -1.25, "table": 0.5}
_CLF_DIM = 1 << 16
_CLF_BIAS = 0.25


def _clf_slot(token: str) -> int:
    """Driver-side replica of classifier.hash_slot(..., 'md5') — pinned
    equal to the Spark expression in tests/test_round8.py."""
    import hashlib
    return int(hashlib.md5(token.encode()).hexdigest()[:15], 16) % _CLF_DIM


def q_hashed_score(spark, sf_dir):
    """Hashing-trick linear classifier INFERENCE (r8): token → md5 slot
    → broadcast weight join → per-doc mean + bias. The oracle replays
    the slot arithmetic (not a token join — an unrelated corpus token
    colliding with a weight slot must score in BOTH engines)."""
    from bioframe_spark.datapipe import classifier as clf
    docs = _t(spark, sf_dir, "documents")
    weights = {_clf_slot(t): v for t, v in _CLF_WEIGHTS.items()}
    assert len(weights) == len(_CLF_WEIGHTS)  # fixed tokens: no collisions
    return clf.hashed_text_score(docs, weights, dim=_CLF_DIM,
                                 bias=_CLF_BIAS, hash_fn="md5")


def q_train_classifier(spark, sf_dir):
    """Distributed classifier TRAINING (r8): full-batch logistic GD,
    per-slot sparse gradients through one map-side-combinable
    aggregation per epoch. Iterative → rows-only driver check; the
    math is pinned by the numpy-reference differential in
    tests/test_round8.py. Labels here are a deterministic parity split
    (the gate checks the machinery, not the linguistics)."""
    import numpy as np
    from bioframe_spark.datapipe import classifier as clf
    docs = _t(spark, sf_dir, "documents").withColumn(
        "label", (F.col("doc_id") % 2 == 0).cast("int"))
    w = clf.train_quality_classifier(docs, dim=1 << 12, epochs=3, lr=1.0)
    idx = np.argsort(-np.abs(w[:-1]))[:20]
    rows = [(int(i), round(float(w[i]), 6)) for i in sorted(idx.tolist())]
    return spark.createDataFrame(rows, "slot long, weight double")


def q_stream_quality(spark, sf_dir):
    """Model-based quality scoring AT INGEST (r8): the hashed linear
    classifier applied statelessly per micro-batch (JVM slot arrays +
    one Arrow kernel over the broadcast weight vector — no shuffle, no
    state store). Driven to completion over the 3-chunk document
    stream; the snapshot equals the batch op and therefore the
    hashed_score DuckDB oracle (bit-exact — same double chain)."""
    from bioframe_spark.streaming import stream_ops

    src = _doc_stream_source(spark, sf_dir)
    weights = {_clf_slot(t): v for t, v in _CLF_WEIGHTS.items()}
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1").parquet(src + "/*"))
    out = stream_ops.stream_quality_score(
        stream, weights, dim=_CLF_DIM, bias=_CLF_BIAS, hash_fn="md5")
    rows = []
    q = (out.writeStream
         .foreachBatch(lambda bdf, _bid: rows.extend(
             (r["doc_id"], r["score"]) for r in bdf.collect()))
         .outputMode("append").trigger(availableNow=True).start())
    finished = q.awaitTermination(300)
    q.stop()
    if not finished:
        raise TimeoutError("stream_quality still running after 300 s")
    return spark.createDataFrame(rows, "doc_id long, score double")


def q_normalize(spark, sf_dir):
    """Canonical text normalization (r8): control-strip → NFC →
    lowercase → whitespace collapse + trim, the pass every pipeline
    runs before hashing/dedup. JVM regexp steps + one Arrow unicode
    UDF; DuckDB replays it with regexp_replace/nfc_normalize/lower."""
    from bioframe_spark.datapipe import text as tx
    docs = _t(spark, sf_dir, "documents")
    return tx.normalize_text(docs, lowercase=True).select("doc_id", "text")


def q_incremental_dedup(spark, sf_dir):
    """The composed crawl-increment loop (r8): probe the 'new batch'
    (doc_id % 5 == 0) against the persisted index of the rest, drop
    cross-index near-dups, resolve within-batch dups to the min-id
    member. update=False = dry run, so the gate row is idempotent
    (no index mutation between runs); md5 mode → the DuckDB oracle
    replays probe + batch self-join + recursive-CC canonical pick."""
    docs = _t(spark, sf_dir, "documents")
    def _build():  # same index as q_minhash_probe (shared memo key)
        import tempfile
        p = tempfile.mkdtemp(prefix="mh_index_q_")
        dedup.build_minhash_index(docs.filter("doc_id % 5 != 0"), p,
                                  num_hashes=32, bands=8, hash_fn="md5")
        return p

    path = _session_memo(spark, ("mh_index", sf_dir), _build)
    new = docs.filter("doc_id % 5 = 0").select("doc_id", "text")
    return dedup.incremental_dedup(new, path, threshold=0.5,
                                   update=False).select("doc_id")


def q_word_freqs(spark, sf_dir):
    """Corpus word-frequency table (r8): the tokenizer-training
    substrate — one explode + hash agg with map-side combine, min_freq
    floor, deterministic top-N via TakeOrderedAndProject."""
    from bioframe_spark.datapipe import tokenize
    docs = _t(spark, sf_dir, "documents")
    return tokenize.word_frequencies(docs, min_freq=2, max_words=100)


def q_corpus_stats(spark, sf_dir):
    """One-row corpus summary (r8): doc/token totals + exact vocabulary
    size; avg derived from the exact integer sums (engine-portable)."""
    from bioframe_spark.datapipe import tokenize
    return tokenize.corpus_stats(_t(spark, sf_dir, "documents"))


def q_bpe_merges(spark, sf_dir):
    """BPE tokenizer TRAINING (r8, Sennrich et al. 2016): one corpus
    pass collapses to a bounded word-frequency table; the inherently
    sequential merge loop runs on that table driver-side. Iterative —
    no SQL oracle (rows-only driver check); values pinned by the
    paper's worked example + a naive-reference differential in
    tests/test_round8.py."""
    from bioframe_spark.datapipe import tokenize
    docs = _t(spark, sf_dir, "documents")
    return tokenize.bpe_train(docs, n_merges=40, min_freq=2,
                              max_words=50_000)


def q_bpe_tokens(spark, sf_dir):
    """BPE ENCODE (r8): re-tokenize the corpus with the learned merges —
    map-only Arrow kernel, broadcast vocab-sized rank table, per-batch
    word memo. Depends on the trained merges, hence rows-only; encode
    correctness (lossless reconstruction, monotonicity, batch-split
    independence) is pytest-pinned."""
    from bioframe_spark.datapipe import tokenize
    docs = _t(spark, sf_dir, "documents")
    merges = tokenize.bpe_train(docs, n_merges=30, min_freq=2,
                                max_words=50_000)
    return tokenize.bpe_encode(docs, merges).select("doc_id", "n_tokens")


def q_span_dup_pairs(spark, sf_dir):
    from bioframe_spark.datapipe import dedup as ddp
    docs = _t(spark, sf_dir, "documents")
    return ddp.span_dup_pairs(docs, k=25, w=16, min_shared=2)


def q_stream_span_contam(spark, sf_dir):
    """STREAMING span-level decontamination driven to completion: the
    documents table arrives as a 3-file stream; each micro-batch is
    tagged against the STATIC eval subset (doc_id % 10 == 0) via the
    broadcast winnowed-fingerprint set — stateless map-only, append
    mode. Snapshot == the batch operator == the DuckDB winnow SQL."""
    import tempfile

    from pyspark.sql import functions as _F
    from bioframe_spark.streaming import stream_ops

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(_F.col("doc_id") % 10 == 0)
    src = _doc_stream_source(spark, sf_dir)
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1").parquet(src + "/*"))
    out = stream_ops.stream_span_contamination(stream, ev, k=25, w=16)
    rows = []
    q = (out.writeStream
         .foreachBatch(lambda bdf, _bid: rows.extend(
             bdf.toPandas().itertuples(index=False)))
         .outputMode("append").trigger(availableNow=True).start())
    finished = q.awaitTermination(300)
    q.stop()
    if not finished:
        raise TimeoutError("stream_span_contam still running after 300 s")
    import pandas as pd
    data = [(int(r.doc_id),
             None if pd.isna(r.n_spans) else int(r.n_spans),
             None if pd.isna(r.n_contaminated) else int(r.n_contaminated),
             None if pd.isna(r.contamination) else float(r.contamination))
            for r in rows]
    return spark.createDataFrame(
        data, "doc_id long, n_spans long, n_contaminated long, "
              "contamination double")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering matters: the driver's correctness gate records only the first
    # 50 entries.  Rows 1-16 are the queries that had no driver row in
    # CORRECTNESS_r03 (registry positions 51-66 then); rows 17-50 are the most
    # informative one-per-operator keepers; positions 51+ are long-stable
    # duplicates (same oracle shape as an in-gate sibling, green since r1/r2)
    # rotated past the cap — still runnable via tools/check_oracle.py.
    return {
        # -- previously uncovered (hard gate rows needed this round) --
        "merge_ranged": q_merge_ranged,
        "pileup_ranged": q_pileup_ranged,
        # r8 rotation: the newest physical paths belong in the gate
        # (persisted-LSH broadcast probe; the tokenizer family's
        # word-count substrate). pileup_weighted / overlap_right moved
        # past the cap — both long-stable with in-gate siblings
        # (pileup_ranged; overlap_inner/left/outer).
        "minhash_probe": q_minhash_probe,
        "word_freqs": q_word_freqs,
        "setdiff_on": q_setdiff_on,
        "setdiff_binned": q_setdiff_binned,
        "coverage_binned": q_coverage_binned,
        "count_overlaps_on": q_count_overlaps_on,
        "select_mask": q_select_mask,
        "sort_view_rank": q_sort_view_rank,
        "checks": q_checks,
        "frac_gc": q_frac_gc,
        "digest": q_digest,
        "media_pipeline": q_media_pipeline,
        # -- keepers: one per operator family, including every plan touched
        # this round (outer joins, merge auto path) --
        "overlap_inner": q_overlap_inner,
        "overlap_left": q_overlap_left,
        "overlap_outer": q_overlap_outer,
        "count_overlaps": q_count_overlaps,
        "coverage": q_coverage,
        "merge": q_merge,
        "cluster": q_cluster,
        "complement": q_complement,
        "closest": q_closest,
        "closest_binned": q_closest_binned,  # r6: small side of the size gate
        "closest_broadcast": q_closest_broadcast,
        # r9 rotation (r8 verdict #3): the two newest composed paths —
        # JVM model inference and the incremental-crawl dedup loop —
        # take per-round oracle pressure; closest_perchrom /
        # complement_ranged rotate past the cap (long-stable, same-path
        # in-gate siblings closest/closest_binned and complement).
        "hashed_score": q_hashed_score,
        "incremental_dedup": q_incremental_dedup,
        "subtract": q_subtract,
        "assign_view": q_assign_view,
        "dedup_exact": q_dedup_exact,
        "text_stats": q_text_stats,
        "repetition": q_repetition,  # new this round
        "dedup_lines": q_dedup_lines,  # new this round
        "gopher": q_gopher,  # new this round
        "gopher_count": q_gopher_count,  # r6: count-measure A/B, no char sweep
        "chunk_docs": q_chunk_docs,  # new this round
        "jaccard_cutoff": q_jaccard_cutoff,  # r6: literal hot-list plan in-gate
        "contamination": q_contamination,  # new this round
        "dedup_components": q_dedup_components,
        "semdedup": q_semdedup,
        "bm25": q_bm25,
        "bm25_multi": q_bm25_multi,
        "dup_spans": q_dup_spans,
        "dup_spans_join": q_dup_spans_join,  # r7: hot-fingerprint join path in-gate (r6 verdict #4)
        "span_removal": q_span_removal,
        "vocab_topk": q_vocab_topk,  # r6 new operator in-gate
        "span_dup_pairs": q_span_dup_pairs,  # r7: single-kernel rewrite in-gate
        "domain_cap": q_domain_cap,
        "mixture": q_mixture,
        "minhash_lsh": q_minhash_lsh,  # r7: restored to gate (fell past cap at r6)
        # -- rotated past the 50-row cap (stable duplicates; green in r03's
        # driver gate or equivalent-oracle to an in-gate sibling) --
        "simhash_pairs": q_simhash_pairs,  # r1+ green; minhash_lsh pins the banded-pair shape in-gate
        "ann_topk": q_ann_topk,  # r2+ green; ann_ivf_indexed full-green, embedding kernels fuzz-pinned
        "ann_ivf_indexed": q_ann_ivf_indexed,  # r5-r6 CHECKFULL green; index layout stable
        "pileup_weighted": q_pileup_weighted,  # r8: rotated out (sibling pileup_ranged in-gate)
        "overlap_right": q_overlap_right,  # r8: rotated out (siblings inner/left/outer in-gate)
        "select_indices": q_select_indices,  # r6 gate green; same rid+predicate shape as select_mask (in-gate)
        "select_labels": q_select_labels,  # r6 gate green; same predicate as select_indices
        "redact": q_redact,  # r3+ green, map-only regex plan unchanged
        "boilerplate": q_boilerplate,  # r3+ green, plan unchanged since r5
        "train_split": q_train_split,  # r2+ green, map-only hash split unchanged
        "overlap_prebinned": q_overlap_prebinned,  # r4-r5 green; layout stable (r5 verdict #8)
        "jaccard_pairs": q_jaccard_pairs,  # r1+ green; jaccard_cutoff in-gate
        "curate": q_curate,  # r3+ green composite; its stages gated separately
        "embedding_dups": q_embedding_dups,  # r2+ green; ann_topk in-gate
        "ann_lsh": q_ann_lsh,  # r4-r5 green; ann_ivf_indexed in-gate
        "pack_seqs": q_pack_seqs,  # r4-r5 green; chunk_docs in-gate
        "sample_users": q_sample_users,  # r2+ green; train_split/mixture in-gate
        "pair_by_distance": q_pair_by_distance,  # r03 green x2 + fuzz; displaced by chunk_docs
        "ann_ivf": q_ann_ivf,  # r03 green; the newer ann_ivf_indexed stays in-gate
        "sessions": q_sessions,  # r03 green; displaced by gopher at r04
        "events_hourly": q_events_hourly,  # r01-stable; rotated at r04
        "overlap_on": q_overlap_on,  # r01-r03 green; inner/left/outer in-gate
        "pileup": q_pileup,  # r03 green; pileup_ranged/_weighted in-gate
        "gene_coverage": q_gene_coverage,  # r03 green; parts gated separately
        "dedup_canonical": q_dedup_canonical,  # r03 green; components in-gate
        "overlap_binned": q_overlap_binned,
        "trim_expand": q_trim_expand,  # r03 driver-green + differential fuzz
        "setdiff": q_setdiff,  # r03 driver-green; setdiff_on/_binned in-gate
        "cluster_on": q_cluster_on,
        "merge_strict": q_merge_strict,
        "closest_k2": q_closest_k2,
        "expand_scale": q_expand_scale,
        "select_region": q_select_region,
        "natsort_key": q_natsort_key,
        "make_chromarms": q_make_chromarms,
        "binnify": q_binnify,
        "mark_runs": q_mark_runs,
        "merge_runs": q_merge_runs,
        "text_fingerprints": q_text_fingerprints,
        "language_id": q_language_id,
        "sample_mix": q_sample_mix,
        "token_pairs": q_token_pairs,  # r7 new op (past cap; CHECKFULL covers)
        "quality_score": q_quality_score,  # r7 new op (past cap; CHECKFULL covers)
        "lm_score": q_lm_score,  # r7 new op (past cap; CHECKFULL covers)
        "score_buckets": q_score_buckets,  # r7 new op (past cap; CHECKFULL covers)
        "events_json": q_events_json,
        # streaming operator driven to completion — oracle-checkable but
        # deliberately past the driver's 50-row cap (a streaming query in
        # the gate harness would risk the whole run on a hang)
        "stream_merge": q_stream_merge,
        "stream_complement": q_stream_complement,
        "stream_cluster": q_stream_cluster,  # r6: streaming window family complete
        "stream_count": q_stream_count,
        "stream_closest": q_stream_closest,
        "stream_coverage": q_stream_coverage,
        "stream_span_contam": q_stream_span_contam,  # r6: decontam at ingest
        # r8: tokenizer-training family (past cap; CHECKFULL covers;
        # minhash_probe + word_freqs rotated INTO the gate above)
        "corpus_stats": q_corpus_stats,
        "bpe_merges": q_bpe_merges,    # iterative -> rows-only by design
        "bpe_tokens": q_bpe_tokens,    # depends on trained merges -> rows-only
        "train_classifier": q_train_classifier,  # iterative -> rows-only
        "normalize": q_normalize,
        "stream_quality": q_stream_quality,  # r8: classifier at ingest
        # r9: rotated past the cap (hashed_score + incremental_dedup
        # moved INTO the gate above); both long-stable with same-path
        # in-gate siblings
        "closest_perchrom": q_closest_perchrom,
        "complement_ranged": q_complement_ranged,
    }


# --------------------------------------------------------------------------
# oracles (DuckDB SQL)
# --------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    ov_ab = 'a.start < b."end" AND b.start < a."end"'
    overlap_inner = _CTE + f"""
SELECT a.aid, a.chrom, a.start, a."end", a.strand, a.qty,
       b.bid AS bid_b, b.chrom AS chrom_b, b.start AS start_b,
       b."end" AS end_b, b.strand AS strand_b
FROM a JOIN b ON a.chrom = b.chrom AND {ov_ab}
"""
    overlap_left = _CTE + f"""
SELECT a.aid, a.chrom, a.start, a."end", a.strand, a.qty,
       b.bid AS bid_b, b.chrom AS chrom_b, b.start AS start_b,
       b."end" AS end_b, b.strand AS strand_b
FROM a LEFT JOIN b ON a.chrom = b.chrom AND {ov_ab}
"""
    overlap_on = _CTE + f"""
SELECT a.aid, a.chrom, a.start, a."end", a.strand, a.qty,
       b.bid AS bid_b, b.chrom AS chrom_b, b.start AS start_b,
       b."end" AS end_b, b.strand AS strand_b
FROM a JOIN b ON a.chrom = b.chrom AND a.strand = b.strand AND {ov_ab}
"""
    count_overlaps = _CTE + f"""
SELECT a.aid, a.chrom, a.start, a."end", a.strand, a.qty,
       COUNT(b.chrom) AS count
FROM a LEFT JOIN b ON a.chrom = b.chrom AND {ov_ab}
GROUP BY ALL
"""
    coverage = _CTE + f""", bmerged AS (
  SELECT chrom, MIN(start) AS start, MAX("end") AS "end"
  FROM ({_islands_sql('b')}) GROUP BY chrom, island
)
SELECT a.aid, a.chrom, a.start, a."end", a.strand, a.qty,
       CAST(COALESCE(SUM(CASE WHEN m.start IS NULL THEN NULL
                         ELSE LEAST(a."end", m."end") - GREATEST(a.start, m.start) END), 0) AS BIGINT) AS coverage
FROM a LEFT JOIN bmerged m ON a.chrom = m.chrom AND a.start < m."end" AND m.start < a."end"
GROUP BY ALL
"""
    setdiff = _CTE + f"""
SELECT a.* FROM a
WHERE NOT EXISTS (
  SELECT 1 FROM b WHERE a.chrom = b.chrom AND {ov_ab}
)
"""
    merge = _CTE + f""", a3 AS (SELECT chrom, start, "end" FROM a)
SELECT chrom, MIN(start) AS start, MAX("end") AS "end", CAST(SUM(cnt) AS BIGINT) AS n_intervals
FROM ({_islands_sql('a3')}) GROUP BY chrom, island
"""
    merge_strict = _CTE + f""", a3 AS (SELECT chrom, start, "end" FROM a)
SELECT chrom, MIN(start) AS start, MAX("end") AS "end", CAST(SUM(cnt) AS BIGINT) AS n_intervals
FROM ({_islands_sql('a3', 'start >= prev_max')}) GROUP BY chrom, island
"""
    cluster = _CTE + f""", sx AS (SELECT chrom, start, "end", sid FROM s),
isl AS (
  SELECT i.*, sx.sid
  FROM ({_islands_sql('sx')}) i
  JOIN sx ON i.chrom = sx.chrom AND i.start = sx.start AND i."end" = sx."end"
), spans AS (
  SELECT chrom, island, MIN(start) AS cs, MAX("end") AS ce,
         DENSE_RANK() OVER (ORDER BY chrom, island) - 1 AS cluster
  FROM isl GROUP BY chrom, island
)
SELECT i.sid, i.chrom, i.start, i."end",
       sp.cluster, sp.cs AS cluster_start, sp.ce AS cluster_end
FROM isl i JOIN spans sp ON i.chrom = sp.chrom AND i.island = sp.island
"""
    complement = _CTE + f""", a3 AS (SELECT chrom, start, "end" FROM a),
merged AS (
  SELECT chrom, MIN(start) AS s, MAX("end") AS e
  FROM ({_islands_sql('a3')}) GROUP BY chrom, island
), gaps AS (
  SELECT chrom, COALESCE(LAG(e) OVER (PARTITION BY chrom ORDER BY s), 0) AS start,
         s AS "end"
  FROM merged
  UNION ALL
  SELECT m.chrom, MAX(m.e) AS start, ANY_VALUE(c.clen) AS "end"
  FROM merged m JOIN chroms c ON m.chrom = c.chrom GROUP BY m.chrom
  UNION ALL
  SELECT c.chrom, 0, c.clen FROM chroms c
  WHERE NOT EXISTS (SELECT 1 FROM merged m WHERE m.chrom = c.chrom)
)
SELECT chrom, start, "end", chrom AS view_region
FROM gaps WHERE start < "end"
"""
    stream_cluster_sql = _CTE + f""", a3 AS (SELECT chrom, start, "end" FROM a),
isl AS ({_islands_sql('a3')}),
spans AS (
  SELECT chrom, island, MIN(start) AS cs, MAX("end") AS ce,
         DENSE_RANK() OVER (PARTITION BY chrom ORDER BY island) - 1
           AS cluster
  FROM isl GROUP BY chrom, island)
SELECT i.chrom, i.start, i."end", CAST(i.cnt AS BIGINT) AS n_copies,
       CAST(sp.cluster AS BIGINT) AS cluster,
       sp.cs AS cluster_start, sp.ce AS cluster_end
FROM isl i JOIN spans sp ON i.chrom = sp.chrom AND i.island = sp.island
"""

    stream_complement_sql = _CTE + f""", a3 AS (
  SELECT chrom, start, "end" FROM a),
merged AS (
  SELECT chrom, MIN(start) AS s, MAX("end") AS e
  FROM ({_islands_sql('a3')}) GROUP BY chrom, island
), gaps AS (
  SELECT chrom,
         COALESCE(LAG(e) OVER (PARTITION BY chrom ORDER BY s), 0) AS start,
         s AS "end"
  FROM merged
  UNION ALL
  SELECT m.chrom, MAX(m.e) AS start, ANY_VALUE(c.clen) AS "end"
  FROM merged m JOIN chroms c ON m.chrom = c.chrom GROUP BY m.chrom
)
SELECT chrom, start, "end" FROM gaps WHERE start < "end"
"""

    closest_tmpl = _CTE + """, cand AS (
  SELECT p.pid, p.chrom, p.start, p."end",
         s.sid, s.chrom AS cs, s.start AS ss, s."end" AS se,
         CASE WHEN p.start < s."end" AND s.start < p."end" THEN 0
              ELSE GREATEST(p.start, s.start) - LEAST(p."end", s."end") + 1
         END AS idist
  FROM p JOIN s ON p.chrom = s.chrom
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY pid ORDER BY idist, ss, se) AS rk
  FROM cand
), hits AS (
  SELECT pid, chrom, start, "end", cs, ss, se, sid,
         CASE WHEN idist = 0 THEN 0 ELSE idist - 1 END AS distance
  FROM ranked WHERE rk <= {K}
)
SELECT p.pid, p.chrom, p.start, p."end",
       h.cs AS chrom_s, h.ss AS start_s, h.se AS end_s, h.sid AS sid_s, h.distance
FROM p LEFT JOIN hits h USING (pid, chrom, start, "end")
"""
    # NB: aid is NOT unique in a (unlike pid in p) — rank and join back
    # on the FULL row value so colliding aids keep independent neighbors
    closest_broadcast_sql = _CTE + """, cand AS (
  SELECT a.aid, a.chrom, a.start, a."end", a.strand, a.qty,
         s.sid, s.chrom AS cs, s.start AS ss, s."end" AS se,
         CASE WHEN a.start < s."end" AND s.start < a."end" THEN 0
              ELSE GREATEST(a.start, s.start) - LEAST(a."end", s."end") + 1
         END AS idist
  FROM a JOIN s ON a.chrom = s.chrom
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY aid, chrom, start, "end", strand, qty
    ORDER BY idist, ss, se) AS rk
  FROM cand
), hits AS (
  SELECT aid, chrom, start, "end", strand, qty, cs, ss, se, sid,
         CASE WHEN idist = 0 THEN 0 ELSE idist - 1 END AS distance
  FROM ranked WHERE rk <= 1
)
SELECT a.aid, a.chrom, a.start, a."end", a.strand, a.qty,
       h.sid AS sid_s, h.cs AS chrom_s, h.ss AS start_s, h.se AS end_s,
       h.distance
FROM a LEFT JOIN hits h USING (aid, chrom, start, "end", strand, qty)
"""
    # NB: p join hits back on pid alone suffices (pid unique); extra keys harmless
    subtract = _CTE + f""", b3 AS (SELECT chrom, start, "end" FROM b),
bmerged AS (
  SELECT chrom, MIN(start) AS s, MAX("end") AS e
  FROM ({_islands_sql('b3')}) GROUP BY chrom, island
), allchroms AS (
  SELECT DISTINCT chrom FROM a UNION SELECT DISTINCT chrom FROM b
), bcomp AS (
  SELECT chrom, COALESCE(LAG(e) OVER (PARTITION BY chrom ORDER BY s), 0) AS s, s AS e
  FROM bmerged
  UNION ALL
  SELECT chrom, MAX(e), 9223372036854775807 FROM bmerged GROUP BY chrom
  UNION ALL
  SELECT c.chrom, 0, 9223372036854775807 FROM allchroms c
  WHERE NOT EXISTS (SELECT 1 FROM bmerged m WHERE m.chrom = c.chrom)
), gaps AS (SELECT * FROM bcomp WHERE s < e)
SELECT a.aid, a.chrom, GREATEST(a.start, g.s) AS start, LEAST(a."end", g.e) AS "end",
       a.strand, a.qty
FROM a JOIN gaps g ON a.chrom = g.chrom AND a.start < g.e AND g.s < a."end"
"""
    trim_expand = _CTE + f"""
SELECT aid, chrom,
       GREATEST(LEAST(start - 5000, {CLEN}), 0) AS start,
       GREATEST(LEAST("end" + 5000, {CLEN}), 0) AS "end",
       strand, qty
FROM a
"""
    expand_scale = _CTE + """
SELECT aid, chrom, start - ("end" - start) AS start, "end" + ("end" - start) AS "end",
       strand, qty
FROM a
"""
    select_region = _CTE + """
SELECT * FROM a
WHERE chrom = 'chr1' AND start < 25000 AND "end" > 1000
"""
    assign_view = _CTE + """, j AS (
  SELECT a.aid, a.chrom, a.start, a."end", a.strand, a.qty, v.vname, v.vs,
         LEAST(a."end", v.ve) - GREATEST(a.start, v.vs) AS ovl
  FROM a LEFT JOIN arms v ON a.chrom = v.chrom AND a.start < v.ve AND v.vs < a."end"
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY aid, chrom, start, "end", strand, qty
    ORDER BY ovl DESC, vs ASC) AS rk
  FROM j
)
SELECT aid, chrom, start, "end", strand, qty, vname AS view_region
FROM ranked WHERE rk = 1
"""
    binnify = f"""
WITH chroms AS (
  SELECT 'chr' || g AS chrom, CAST({CLEN} AS BIGINT) AS clen
  FROM (SELECT unnest(generate_series(0, {N_CHROMS - 1})) AS g)
), bins AS (
  SELECT chrom, clen, unnest(generate_series(0, CAST(CEIL(clen / 50000.0) AS BIGINT) - 1)) AS i
  FROM chroms
)
SELECT chrom, i * 50000 AS start, LEAST((i + 1) * 50000, clen) AS "end"
FROM bins
"""
    # probe-overlap semantics (min_sep=10, max_sep=2000):
    # x.mid + 10//2 < y.mid - 11//2  AND  y.mid - 2000//2 < x.mid + 2001//2
    pair_by_distance = _CTE + """, sm AS (
  SELECT sid, chrom, start, "end", (start + "end") // 2 AS mid
  FROM s
)
SELECT x.chrom AS chrom_1, x.start AS start_1, x."end" AS end_1, x.sid AS sid_1,
       y.chrom AS chrom_2, y.start AS start_2, y."end" AS end_2, y.sid AS sid_2
FROM sm x JOIN sm y
  ON x.chrom = y.chrom
 AND x.mid + 5 < y.mid - 5
 AND y.mid - 1000 < x.mid + 1000
"""
    pileup = _CTE + """, ev AS (
  SELECT chrom, start AS pos, 1 AS d FROM a
  UNION ALL
  SELECT chrom, "end" AS pos, -1 AS d FROM a
), evagg AS (
  SELECT chrom, pos, SUM(d) AS d FROM ev GROUP BY 1, 2
), seg AS (
  SELECT chrom, pos,
         CAST(SUM(d) OVER (PARTITION BY chrom ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS depth,
         LEAD(pos) OVER (PARTITION BY chrom ORDER BY pos) AS next_pos
  FROM evagg
)
SELECT chrom, pos AS start, next_pos AS "end", depth
FROM seg WHERE next_pos IS NOT NULL AND depth != 0 AND pos < next_pos
"""
    _binval = f"""
binval AS (
  SELECT chrom, i * 50000 AS start, LEAST((i + 1) * 50000, clen) AS "end",
         ((i // 3) % 2) AS val
  FROM (
    SELECT chrom, clen,
           unnest(generate_series(0, CAST(CEIL(clen / 50000.0) AS BIGINT) - 1)) AS i
    FROM (SELECT 'chr' || g AS chrom, CAST({CLEN} AS BIGINT) AS clen
          FROM (SELECT unnest(generate_series(0, {N_CHROMS - 1})) AS g))
  )
), marked AS (
  SELECT chrom, start, "end", val,
         CAST(SUM(CASE WHEN prev_end IS NULL OR val != prev_val OR start > prev_end
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY chrom ORDER BY start
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS runnum
  FROM (
    SELECT chrom, start, "end", val,
           LAG("end") OVER (PARTITION BY chrom ORDER BY start) AS prev_end,
           LAG(val) OVER (PARTITION BY chrom ORDER BY start) AS prev_val
    FROM binval
  )
)
"""
    mark_runs = "WITH " + _binval + """
SELECT chrom, start, "end", val, runnum - 1 AS run FROM marked
"""
    merge_runs = "WITH " + _binval + """
SELECT chrom, MIN(start) AS start, MAX("end") AS "end",
       ANY_VALUE(val) AS val, COUNT(*) AS n_bins
FROM marked GROUP BY chrom, runnum
"""
    gene_coverage = _CTE + f""", bmerged AS (
  SELECT chrom, MIN(start) AS start, MAX("end") AS "end"
  FROM ({_islands_sql('b')}) GROUP BY chrom, island
), cov AS (
  SELECT a.aid, a.chrom, a.start, a."end", a.strand, a.qty,
         CAST(COALESCE(SUM(CASE WHEN m.start IS NULL THEN NULL
                           ELSE LEAST(a."end", m."end") - GREATEST(a.start, m.start) END), 0) AS BIGINT) AS coverage
  FROM a LEFT JOIN bmerged m
    ON a.chrom = m.chrom AND a.start < m."end" AND m.start < a."end"
  GROUP BY ALL
), cnt AS (
  SELECT a.aid, a.chrom, a.start, a."end", a.strand, a.qty,
         COUNT(b.chrom) AS n_genes
  FROM a LEFT JOIN b ON a.chrom = b.chrom AND a.start < b."end" AND b.start < a."end"
  GROUP BY ALL
)
SELECT cov.*, cnt.n_genes,
       ROUND(CAST(cov.coverage AS DOUBLE) / (cov."end" - cov.start), 9) AS gene_coverage
FROM cov JOIN cnt USING (aid, chrom, start, "end", strand, qty)
"""
    dedup_exact = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS rep_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
"""
    text_stats = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
       length(text) AS n_chars_calc,
       len(list_filter(string_split(text, ' '),
           x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS n_stopwords,
       CASE WHEN len(list_filter(string_split(text, ' '),
                 x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) * 10
              >= len(string_split(text, ' '))
            THEN 'en' ELSE 'unk' END AS lang_pred
FROM documents
"""
    text_fingerprints = """
SELECT doc_id,
       md5(text) AS md5_fp,
       list_reduce(
         list_transform(string_split(text, ' '),
                        t -> ('0x' || substring(md5(t), 1, 8))::BIGINT),
         (acc, x) -> (acc * 31 + x) % 1000000007) AS rolling_fp,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens
FROM documents
"""
    # language-ID oracle generated from the SAME profile dict the Spark
    # operator uses (bioframe_spark/datapipe/text.py LANG_PROFILES) — the
    # chained CASE gives the identical first-tie-wins argmax.
    _langs = list(text.LANG_PROFILES)
    _toks = "regexp_extract_all(lower(text), '[a-zà-ÿ]+')"

    def _inlist(lg):
        return ", ".join("'%s'" % w.replace("'", "''")
                         for w in text.LANG_PROFILES[lg])

    _hit_exprs = ",\n         ".join(
        f"len(list_filter({_toks}, t -> t IN ({_inlist(lg)}))) AS {lg}_hits"
        for lg in _langs)
    _case = "CASE " + " ".join(
        "WHEN %s_hits > 0 AND %s THEN '%s'" % (
            lg,
            " AND ".join(f"{lg}_hits >= {o}_hits" for o in _langs if o != lg),
            lg)
        for lg in _langs) + " ELSE 'und' END"
    language_id = f"""
WITH h AS (
  SELECT doc_id,
         {_hit_exprs}
  FROM documents
)
SELECT doc_id, {_case} AS lang_pred, {', '.join(f'{lg}_hits' for lg in _langs)}
FROM h
"""

    jaccard_pairs = """
WITH sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, GREATEST(len(string_split(text, ' ')) - 2, 0)),
           i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
         ))) AS shingle
  FROM documents
), cnt AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), common AS (
  SELECT x.doc_id AS id1, y.doc_id AS id2, COUNT(*) AS n_common
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT id1, id2, n_common, c1.n + c2.n - n_common AS n_union
FROM common JOIN cnt c1 ON c1.doc_id = id1 JOIN cnt c2 ON c2.doc_id = id2
WHERE CAST(n_common AS DOUBLE) >= 0.5 * (c1.n + c2.n - n_common)
"""
    # df-cutoff variant: Jaccard over the informative-shingle space only
    jaccard_cutoff = """
WITH sh0 AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, GREATEST(len(string_split(text, ' ')) - 2, 0)),
           i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
         ))) AS shingle
  FROM documents
), sh AS (
  SELECT doc_id, shingle FROM sh0
  WHERE shingle IN (SELECT shingle FROM sh0 GROUP BY shingle
                    HAVING COUNT(*) <= 3)
), cnt AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), common AS (
  SELECT x.doc_id AS id1, y.doc_id AS id2, COUNT(*) AS n_common
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT id1, id2, n_common, c1.n + c2.n - n_common AS n_union
FROM common JOIN cnt c1 ON c1.doc_id = id1 JOIN cnt c2 ON c2.doc_id = id2
WHERE CAST(n_common AS DOUBLE) >= 0.5 * (c1.n + c2.n - n_common)
"""
    # deterministic sampling: 60-bit md5-prefix key hash vs an integer
    # threshold floor(fraction * 2^60) — pure int64 compare, portable
    from bioframe_spark.datapipe.sampling import _threshold

    def _duck_hash60(key_expr, seed):
        return ("('0x' || substring(md5(CAST(" + key_expr
                + " AS VARCHAR) || '#" + str(seed) + "'), 1, 15))::BIGINT")

    sample_users = f"""
SELECT event_id, user_id FROM events
WHERE {_duck_hash60('user_id', 7)} < {_threshold(0.3)}
"""
    sample_mix = f"""
SELECT doc_id, source FROM documents
WHERE {_duck_hash60('doc_id', 3)} <
  CASE source WHEN 'src0' THEN {_threshold(1.0)}
              WHEN 'src1' THEN {_threshold(0.5)}
              WHEN 'src2' THEN {_threshold(0.25)}
              ELSE {_threshold(0.1)} END
"""
    domain_cap = f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN 'not a url'
              ELSE 'https://'
                   || CASE WHEN doc_id % 7 = 0 THEN 'www.' ELSE '' END
                   || CASE WHEN doc_id % 5 = 0 THEN 'sub.' ELSE '' END
                   || 'd' || CAST(doc_id % 13 AS VARCHAR)
                   || CASE doc_id % 3 WHEN 0 THEN '.com'
                                      WHEN 1 THEN '.org' ELSE '.net' END
                   || '/p/' || CAST(doc_id AS VARCHAR)
         END AS url
  FROM documents),
dom0 AS (
  SELECT doc_id, url,
         NULLIF(lower(regexp_extract(url,
           '^(?:[A-Za-z][A-Za-z0-9+.\\-]*:)?//([^/?#@]*@)?([^/?#:]+)', 2)),
           '') AS host
  FROM aug),
dom AS (
  SELECT doc_id, url,
         CASE WHEN host LIKE 'www.%' THEN substring(host, 5) ELSE host END
           AS domain
  FROM dom0),
keep AS (
  SELECT * FROM dom
  WHERE domain IS NULL OR NOT (
    domain = 'd1.org' OR domain LIKE '%.d1.org'
    OR domain = 'd2.net' OR domain LIKE '%.d2.net')),
ranked AS (
  SELECT doc_id, url, domain,
         ROW_NUMBER() OVER (
           PARTITION BY domain
           ORDER BY {_duck_hash60('doc_id', 0)}, doc_id) AS rk
  FROM keep)
SELECT doc_id, url, domain FROM ranked WHERE rk <= 5
"""

    mixture = f"""
WITH d AS (
  SELECT doc_id, source FROM documents
  WHERE source IN ('src0', 'src1', 'src2')),
shares(source, share) AS (
  VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)),
c AS (SELECT source, COUNT(*) AS n FROM d GROUP BY source),
t AS (SELECT MIN(CAST(FLOOR(n / share) AS BIGINT)) AS total
      FROM c JOIN shares USING (source)),
caps AS (SELECT source, CAST(FLOOR(share * total + 0.5) AS BIGINT) AS cap
         FROM shares, t),
ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY {_duck_hash60('doc_id', 0)}, doc_id) AS rk
  FROM d)
SELECT r.doc_id, r.source
FROM ranked r JOIN caps USING (source) WHERE r.rk <= caps.cap
"""

    train_split = f"""
SELECT doc_id,
       CASE WHEN {_duck_hash60('doc_id', 5)} < {_threshold(0.2)}
            THEN 'val' ELSE 'train' END AS split
FROM documents
"""
    # fuzzy-dedup resolution: transitive closure over the (symmetrized)
    # jaccard pair graph; MIN over everything reachable = component min,
    # exactly the hash-min label propagation fixpoint
    _cc_prefix = f"""
WITH RECURSIVE pairs AS (
  SELECT id1, id2 FROM ({jaccard_pairs})
), e2 AS (
  SELECT id1 AS u, id2 AS v FROM pairs
  UNION
  SELECT id2, id1 FROM pairs
), nodes AS (
  SELECT DISTINCT u AS id FROM e2
), reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e2.u, reach.r FROM reach JOIN e2 ON e2.v = reach.id
), comp AS (
  SELECT id, MIN(r) AS component FROM reach GROUP BY id
)
"""
    dedup_components = _cc_prefix + """
SELECT id AS doc_id, component FROM comp
"""
    dedup_canonical = _cc_prefix + """
SELECT d.doc_id FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM comp
                  WHERE comp.id = d.doc_id AND comp.component <> comp.id)
"""
    # the full curation pipeline: quality gate → exact dedup → fuzzy
    # dedup (transitive closure over the jaccard graph of the SURVIVORS)
    # → deterministic split; same CTE skeleton, staged inputs
    redact = r"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com via https://ex' || CAST(doc_id AS VARCHAR)
              || '.test/a?q=1 from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
              || '.7 end' AS text
  FROM documents)
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(text, 'https?://\S+', '<URL>', 'g'),
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS text,
  CAST(len(regexp_extract_all(text, 'https?://\S+')) AS BIGINT) AS n_url,
  CAST(len(regexp_extract_all(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text,
    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip
FROM aug
"""

    contamination = """
WITH ev AS (
  SELECT doc_id,
         substr(text, 1, CAST(floor(length(text)/2) AS INT))
           || ' zq' || CAST(doc_id AS VARCHAR)
           || ' unique eval marker tail words here' AS text
  FROM documents WHERE doc_id % 50 = 0),
ctoks AS (SELECT string_split(text, ' ') AS toks FROM documents),
csh AS (SELECT DISTINCT array_to_string(toks[i:i+4], ' ') AS shingle
        FROM ctoks, UNNEST(range(1, len(toks) - 5 + 2)) AS r(i)),
etoks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM ev),
esh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS shingle
        FROM etoks, UNNEST(range(1, len(toks) - 5 + 2)) AS r(i)),
tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM esh GROUP BY doc_id),
hits AS (SELECT e.doc_id, COUNT(*) AS n_contaminated
         FROM esh e JOIN csh c USING (shingle) GROUP BY e.doc_id)
SELECT ev.doc_id,
       CAST(COALESCE(t.n_shingles, 0) AS BIGINT) AS n_shingles,
       CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       CASE WHEN COALESCE(t.n_shingles, 0) > 0
            THEN COALESCE(h.n_contaminated, 0) / t.n_shingles
            ELSE 0.0 END AS contamination,
       (COALESCE(t.n_shingles, 0) > 0
        AND (COALESCE(h.n_contaminated, 0) / t.n_shingles) >= 0.1) AS flagged
FROM ev LEFT JOIN tot t USING (doc_id) LEFT JOIN hits h USING (doc_id)
"""

    boilerplate = """
WITH aug AS (
  SELECT doc_id, 'SHARED-HEADER' || chr(10) || text || chr(10)
                 || 'FOOT-' || CAST(doc_id % 7 AS VARCHAR) AS text
  FROM documents),
p AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM aug),
lines AS (SELECT doc_id, parts[i] AS line, i AS ord
          FROM p, UNNEST(range(1, len(parts) + 1)) AS t(i)),
boiler AS (SELECT line FROM lines WHERE trim(line) <> ''
           GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 2),
kept AS (SELECT l.doc_id, l.line, l.ord FROM lines l
         LEFT JOIN boiler b USING (line) WHERE b.line IS NULL),
rebuilt AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY ord) AS text
            FROM kept GROUP BY doc_id)
SELECT a.doc_id, COALESCE(r.text, '') AS text
FROM aug a LEFT JOIN rebuilt r USING (doc_id)
"""

    repetition = """
WITH aug AS (
  SELECT doc_id,
         text || chr(10) || substr(text, 1, 20)
              || chr(10) || substr(text, 1, 20) AS text
  FROM documents),
p AS (SELECT doc_id, string_split(text, chr(10)) AS parts,
             string_split(text, ' ') AS toks
      FROM aug),
lineagg AS (
  SELECT doc_id,
         len(parts) AS n_lines,
         len(parts) - len(list_distinct(parts)) AS n_dup_lines,
         list_sum(list_transform(parts, x -> len(x)))
           - list_sum(list_transform(list_distinct(parts), x -> len(x)))
           AS n_dup_line_chars,
         GREATEST(len(toks) - 4, 0) AS n_ngrams
  FROM p),
gramsi AS (
  SELECT doc_id, i, array_to_string(toks[i:i+4], ' ') AS g
  FROM p, UNNEST(range(1, len(toks) - 5 + 2)) AS r(i)),
gramagg AS (
  SELECT doc_id, COUNT(*) - COUNT(DISTINCT g) AS n_dup_ngrams
  FROM gramsi GROUP BY doc_id),
tokpos AS (
  SELECT doc_id, i, len(toks[i]) AS tl,
         COALESCE(SUM(len(toks[i]) + 1) OVER (
           PARTITION BY doc_id ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos
  FROM p, UNNEST(range(1, len(toks) + 1)) AS tr(i)),
dupg AS (
  SELECT doc_id, g FROM gramsi GROUP BY doc_id, g HAVING COUNT(*) >= 2),
spans AS (
  SELECT gi.doc_id, t1.pos AS s, t2.pos + t2.tl AS e
  FROM gramsi gi
  JOIN dupg d ON gi.doc_id = d.doc_id AND gi.g = d.g
  JOIN tokpos t1 ON t1.doc_id = gi.doc_id AND t1.i = gi.i
  JOIN tokpos t2 ON t2.doc_id = gi.doc_id AND t2.i = gi.i + 4),
sweep AS (
  SELECT doc_id, s, e,
         MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cur
  FROM spans),
dupchars AS (
  SELECT doc_id,
         SUM(GREATEST(0, e - GREATEST(s, COALESCE(cur, 0))))
           AS n_dup_ngram_chars
  FROM sweep GROUP BY doc_id),
bi AS (
  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS b
  FROM p, UNNEST(range(1, len(toks) - 2 + 2)) AS r(i)),
bicnt AS (SELECT doc_id, b, COUNT(*) AS c FROM bi GROUP BY doc_id, b),
bimax AS (SELECT doc_id, MAX(c) AS mx FROM bicnt GROUP BY doc_id),
bitop AS (
  SELECT bicnt.doc_id, MIN(b) AS top_bigram, MAX(mx) AS cnt
  FROM bicnt JOIN bimax ON bicnt.doc_id = bimax.doc_id AND c = mx
  GROUP BY bicnt.doc_id)
SELECT l.doc_id,
       CAST(l.n_lines AS BIGINT) AS n_lines,
       CAST(l.n_dup_lines AS BIGINT) AS n_dup_lines,
       CAST(COALESCE(l.n_dup_line_chars, 0) AS BIGINT) AS n_dup_line_chars,
       CAST(l.n_ngrams AS BIGINT) AS n_ngrams,
       CAST(COALESCE(g.n_dup_ngrams, 0) AS BIGINT) AS n_dup_ngrams,
       CAST(COALESCE(dc.n_dup_ngram_chars, 0) AS BIGINT)
         AS n_dup_ngram_chars,
       t.top_bigram AS top_bigram,
       CAST(COALESCE(t.cnt, 0) AS BIGINT) AS top_bigram_count,
       CAST(COALESCE(t.cnt * length(t.top_bigram), 0) AS BIGINT)
         AS top_bigram_chars
FROM lineagg l
LEFT JOIN gramagg g USING (doc_id)
LEFT JOIN dupchars dc ON l.doc_id = dc.doc_id
LEFT JOIN bitop t ON l.doc_id = t.doc_id
"""

    dedup_lines_sql = """
WITH aug AS (
  SELECT doc_id, 'GROUP-' || CAST(doc_id % 5 AS VARCHAR) || chr(10)
                 || text || chr(10) || 'COMMON-TAIL' AS text
  FROM documents),
p AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM aug),
lines AS (SELECT doc_id, parts[i] AS line, i AS ord
          FROM p, UNNEST(range(1, len(parts) + 1)) AS t(i)),
keep AS (
  SELECT doc_id, line, ord,
         trim(line) = '' OR
         ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, ord) = 1
           AS k
  FROM lines),
rebuilt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY ord) AS text
  FROM keep WHERE k GROUP BY doc_id)
SELECT a.doc_id, COALESCE(r.text, '') AS text
FROM aug a LEFT JOIN rebuilt r USING (doc_id)
"""

    gopher = """
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0
              THEN text || chr(10) || substr(text, 1, 20)
                        || chr(10) || substr(text, 1, 20)
              ELSE text || chr(10) || 'U-' || CAST(doc_id AS VARCHAR)
                        || chr(10) || substr(text, 1, 20)
         END AS text
  FROM documents),
p AS (SELECT doc_id, text, string_split(text, chr(10)) AS parts,
             string_split(text, ' ') AS toks
      FROM aug),
feat AS (
  SELECT doc_id,
         len(toks) AS ntok,
         list_sum(list_transform(toks, x -> len(x))) AS tokchars,
         len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha,
         len(list_filter(toks, x -> list_contains(
             ['the','a','of','and','to','in','is','that','it','for'], x)))
           AS stop,
         list_sum(list_transform(parts, x -> len(x))) AS linechars,
         length(text) AS chars,
         len(parts) AS n_lines,
         len(parts) - len(list_distinct(parts)) AS n_dup_lines,
         COALESCE(list_sum(list_transform(parts, x -> len(x)))
           - list_sum(list_transform(list_distinct(parts), x -> len(x))), 0)
           AS n_dup_line_chars,
         GREATEST(len(toks) - 4, 0) AS n_ngrams
  FROM p),
gramsi AS (
  SELECT doc_id, i, array_to_string(toks[i:i+4], ' ') AS g
  FROM p, UNNEST(range(1, len(toks) - 5 + 2)) AS r(i)),
tokpos AS (
  SELECT doc_id, i, len(toks[i]) AS tl,
         COALESCE(SUM(len(toks[i]) + 1) OVER (
           PARTITION BY doc_id ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos
  FROM p, UNNEST(range(1, len(toks) + 1)) AS tr(i)),
dupg AS (
  SELECT doc_id, g FROM gramsi GROUP BY doc_id, g HAVING COUNT(*) >= 2),
spans AS (
  SELECT gi.doc_id, t1.pos AS s, t2.pos + t2.tl AS e
  FROM gramsi gi
  JOIN dupg d ON gi.doc_id = d.doc_id AND gi.g = d.g
  JOIN tokpos t1 ON t1.doc_id = gi.doc_id AND t1.i = gi.i
  JOIN tokpos t2 ON t2.doc_id = gi.doc_id AND t2.i = gi.i + 4),
sweep AS (
  SELECT doc_id, s, e,
         MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cur
  FROM spans),
dupchars AS (
  SELECT doc_id,
         SUM(GREATEST(0, e - GREATEST(s, COALESCE(cur, 0))))
           AS n_dup_ngram_chars
  FROM sweep GROUP BY doc_id),
bi AS (
  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS b
  FROM p, UNNEST(range(1, len(toks) - 2 + 2)) AS r(i)),
bicnt AS (SELECT doc_id, b, COUNT(*) AS c FROM bi GROUP BY doc_id, b),
bimax AS (SELECT doc_id, MAX(c) AS mx FROM bicnt GROUP BY doc_id),
bitop AS (
  SELECT bicnt.doc_id, MIN(b) AS top_bigram, MAX(mx) AS cnt
  FROM bicnt JOIN bimax ON bicnt.doc_id = bimax.doc_id AND c = mx
  GROUP BY bicnt.doc_id),
rules AS (
  SELECT f.doc_id,
         f.ntok >= 30 AND f.ntok <= 100000 AS r_word_count,
         f.tokchars >= 3 * f.ntok AND f.tokchars <= 10 * f.ntok
           AS r_mean_wordlen,
         f.alpha * 5 >= f.ntok * 4 AS r_alpha_words,
         f.stop >= 2 AS r_stopwords,
         f.n_dup_lines * 10 <= f.n_lines * 3 AS r_dup_lines,
         f.n_dup_line_chars * 5 <= f.linechars AS r_dup_line_chars,
         COALESCE(t.cnt * length(t.top_bigram), 0) * 5 <= f.chars
           AS r_top_bigram,
         COALESCE(dc.n_dup_ngram_chars, 0) * 20 <= f.chars * 3
           AS r_dup_ngrams
  FROM feat f
  LEFT JOIN dupchars dc ON f.doc_id = dc.doc_id
  LEFT JOIN bitop t ON f.doc_id = t.doc_id)
SELECT *,
       r_word_count AND r_mean_wordlen AND r_alpha_words AND r_stopwords
       AND r_dup_lines AND r_dup_line_chars AND r_top_bigram
       AND r_dup_ngrams AS keep
FROM rules
"""

    gopher_count = """
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0
              THEN text || chr(10) || substr(text, 1, 20)
                        || chr(10) || substr(text, 1, 20)
              ELSE text || chr(10) || 'U-' || CAST(doc_id AS VARCHAR)
                        || chr(10) || substr(text, 1, 20)
         END AS text
  FROM documents),
p AS (SELECT doc_id, text, string_split(text, chr(10)) AS parts,
             string_split(text, ' ') AS toks
      FROM aug),
feat AS (
  SELECT doc_id,
         len(toks) AS ntok,
         list_sum(list_transform(toks, x -> len(x))) AS tokchars,
         len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha,
         len(list_filter(toks, x -> list_contains(
             ['the','a','of','and','to','in','is','that','it','for'], x)))
           AS stop,
         list_sum(list_transform(parts, x -> len(x))) AS linechars,
         length(text) AS chars,
         len(parts) AS n_lines,
         len(parts) - len(list_distinct(parts)) AS n_dup_lines,
         COALESCE(list_sum(list_transform(parts, x -> len(x)))
           - list_sum(list_transform(list_distinct(parts), x -> len(x))), 0)
           AS n_dup_line_chars,
         GREATEST(len(toks) - 4, 0) AS n_ngrams
  FROM p),
gramsi AS (
  SELECT doc_id, i, array_to_string(toks[i:i+4], ' ') AS g
  FROM p, UNNEST(range(1, len(toks) - 5 + 2)) AS r(i)),
gramagg AS (
  SELECT doc_id, COUNT(*) - COUNT(DISTINCT g) AS n_dup_ngrams
  FROM gramsi GROUP BY doc_id),
bi AS (
  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS b
  FROM p, UNNEST(range(1, len(toks) - 2 + 2)) AS r(i)),
bicnt AS (SELECT doc_id, b, COUNT(*) AS c FROM bi GROUP BY doc_id, b),
bimax AS (SELECT doc_id, MAX(c) AS mx FROM bicnt GROUP BY doc_id),
bitop AS (
  SELECT bicnt.doc_id, MIN(b) AS top_bigram, MAX(mx) AS cnt
  FROM bicnt JOIN bimax ON bicnt.doc_id = bimax.doc_id AND c = mx
  GROUP BY bicnt.doc_id),
rules AS (
  SELECT f.doc_id,
         f.ntok >= 30 AND f.ntok <= 100000 AS r_word_count,
         f.tokchars >= 3 * f.ntok AND f.tokchars <= 10 * f.ntok
           AS r_mean_wordlen,
         f.alpha * 5 >= f.ntok * 4 AS r_alpha_words,
         f.stop >= 2 AS r_stopwords,
         f.n_dup_lines * 10 <= f.n_lines * 3 AS r_dup_lines,
         f.n_dup_line_chars * 5 <= f.linechars AS r_dup_line_chars,
         COALESCE(t.cnt * length(t.top_bigram), 0) * 5 <= f.chars
           AS r_top_bigram,
         COALESCE(g.n_dup_ngrams, 0) * 20 <= f.n_ngrams * 3
           AS r_dup_ngrams
  FROM feat f
  LEFT JOIN gramagg g ON f.doc_id = g.doc_id
  LEFT JOIN bitop t ON f.doc_id = t.doc_id)
SELECT *,
       r_word_count AND r_mean_wordlen AND r_alpha_words AND r_stopwords
       AND r_dup_lines AND r_dup_line_chars AND r_top_bigram
       AND r_dup_ngrams AS keep
FROM rules
"""

    chunk_docs = """
WITH p AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents WHERE text IS NOT NULL),
nch AS (
  SELECT doc_id, toks, n,
         GREATEST(1, CAST(ceil((n - 5) / 15.0) AS BIGINT)) AS m
  FROM p)
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_id,
       array_to_string(toks[i * 15 + 1 : i * 15 + 20], ' ') AS text,
       CAST(LEAST(20, n - i * 15) AS BIGINT) AS n_tokens
FROM nch, UNNEST(range(0, m)) AS r(i)
"""

    pack_seqs = """
WITH RECURSIVE t AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(doc_id % 8 AS INTEGER) AS shard,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id)
              AS BIGINT) AS rn
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
pack AS (
  SELECT shard, rn, doc_id, n_tokens,
         CAST(0 AS BIGINT) AS seq, CAST(0 AS BIGINT) AS seq_pos,
         n_tokens AS run
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.shard, t.rn, t.doc_id, t.n_tokens,
         CASE WHEN p.run + t.n_tokens > 80 THEN p.seq + 1 ELSE p.seq END,
         CASE WHEN p.run + t.n_tokens > 80
              THEN CAST(0 AS BIGINT) ELSE p.seq_pos + 1 END,
         CASE WHEN p.run + t.n_tokens > 80
              THEN t.n_tokens ELSE p.run + t.n_tokens END
  FROM pack p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1)
SELECT doc_id, n_tokens, shard, seq, seq_pos, n_tokens > 80 AS oversize
FROM pack
"""

    curate = f"""
WITH RECURSIVE d0 AS (
  SELECT doc_id, text FROM documents
  WHERE len(string_split(text, ' ')) >= 30
), reps AS (
  SELECT MIN(doc_id) AS doc_id FROM d0 GROUP BY md5(text)
), d1 AS (
  SELECT d0.doc_id, d0.text FROM d0 JOIN reps USING (doc_id)
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, GREATEST(len(string_split(text, ' ')) - 2, 0)),
           i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
         ))) AS shingle
  FROM d1
), cnt AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), common AS (
  SELECT x.doc_id AS id1, y.doc_id AS id2, COUNT(*) AS n_common
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id1, id2
  FROM common JOIN cnt c1 ON c1.doc_id = id1 JOIN cnt c2 ON c2.doc_id = id2
  WHERE CAST(n_common AS DOUBLE) >= 0.5 * (c1.n + c2.n - n_common)
), e2 AS (
  SELECT id1 AS u, id2 AS v FROM pairs
  UNION
  SELECT id2, id1 FROM pairs
), nodes AS (
  SELECT DISTINCT u AS id FROM e2
), reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e2.u, reach.r FROM reach JOIN e2 ON e2.v = reach.id
), comp AS (
  SELECT id, MIN(r) AS component FROM reach GROUP BY id
)
SELECT d1.doc_id,
       CASE WHEN {_duck_hash60('d1.doc_id', 5)} < {_threshold(0.2)}
            THEN 'val' ELSE 'train' END AS split
FROM d1
WHERE NOT EXISTS (SELECT 1 FROM comp
                  WHERE comp.id = d1.doc_id AND comp.component <> comp.id)
"""
    embedding_dups = """
WITH v AS (
  SELECT vec_id AS id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
  FROM embeddings
), vn AS (
  SELECT id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM v
), pairs AS (
  SELECT a.id AS id1, b.id AS id2,
         CAST(list_sum(list_transform(generate_series(1, len(a.v)),
              i -> a.v[i] * b.v[i])) AS BIGINT) AS dot,
         a.n2 AS n1, b.n2 AS m2
  FROM vn a JOIN vn b ON a.id < b.id
)
SELECT id1, id2,
       ROUND(CAST(dot AS DOUBLE) / (sqrt(CAST(n1 AS DOUBLE)) * sqrt(CAST(m2 AS DOUBLE))), 9) AS cos
FROM pairs
WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(n1 AS DOUBLE)) * sqrt(CAST(m2 AS DOUBLE))) >= 0.5
"""
    # ---- probabilistic-dedup / ANN oracles ---------------------------
    # The gate queries run the md5 / integer-exact variants of these
    # operators (see q_minhash_lsh etc.), so every step is reproducible
    # bit-for-bit in DuckDB. CASTs around SUM avoid DuckDB's HUGEINT.
    from bioframe_spark.datapipe.dedup import _UHASH_M, _uhash_params
    _ab_rows = ", ".join(
        "({}, {}, {})".format(i, *_uhash_params(i)) for i in range(32)
    )
    minhash_lsh = f"""
WITH sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, GREATEST(len(string_split(text, ' ')) - 2, 0)),
           i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
         ))) AS shingle
  FROM documents
), base AS (
  SELECT doc_id,
         ('0x' || substring(md5(shingle), 1, 15))::BIGINT % {_UHASH_M} AS h
  FROM sh
), hv AS (
  SELECT doc_id, i, MIN((h * a + b) % {_UHASH_M}) AS mh
  FROM base, (VALUES {_ab_rows}) ab(i, a, b)
  GROUP BY doc_id, i
), band AS (
  SELECT doc_id, i // 4 AS band,
         string_agg(mh::VARCHAR, ',' ORDER BY i) AS bucket
  FROM hv GROUP BY doc_id, i // 4
), cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM band a JOIN band b USING (band, bucket)
  WHERE a.doc_id < b.doc_id
)
SELECT c.id1, c.id2,
       CAST(SUM(CASE WHEN p1.mh = p2.mh THEN 1 ELSE 0 END) AS INT) AS n_match
FROM cand c
JOIN hv p1 ON p1.doc_id = c.id1
JOIN hv p2 ON p2.doc_id = c.id2 AND p2.i = p1.i
GROUP BY c.id1, c.id2
HAVING CAST(SUM(CASE WHEN p1.mh = p2.mh THEN 1 ELSE 0 END) AS DOUBLE) >= 0.5 * 32
"""

    # the composed increment loop: crossed = verified probe hits;
    # within-batch dups among the remainder resolve via recursive CC to
    # the min-id member (same canonical rule as dedup_canonical)
    incremental_dedup = f"""
WITH RECURSIVE sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, GREATEST(len(string_split(text, ' ')) - 2, 0)),
           i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
         ))) AS shingle
  FROM documents
), base AS (
  SELECT doc_id,
         ('0x' || substring(md5(shingle), 1, 15))::BIGINT % {_UHASH_M} AS h
  FROM sh
), hv AS (
  SELECT doc_id, i, MIN((h * a + b) % {_UHASH_M}) AS mh
  FROM base, (VALUES {_ab_rows}) ab(i, a, b)
  GROUP BY doc_id, i
), band AS (
  SELECT doc_id, i // 4 AS band,
         string_agg(mh::VARCHAR, ',' ORDER BY i) AS bucket
  FROM hv GROUP BY doc_id, i // 4
), xpairs AS (
  SELECT c.id_new, c.id_indexed
  FROM (SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_indexed
        FROM band a JOIN band b USING (band, bucket)
        WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0) c
  JOIN hv p1 ON p1.doc_id = c.id_new
  JOIN hv p2 ON p2.doc_id = c.id_indexed AND p2.i = p1.i
  GROUP BY c.id_new, c.id_indexed
  HAVING SUM(CASE WHEN p1.mh = p2.mh THEN 1 ELSE 0 END) >= 16
), kept0 AS (
  SELECT doc_id FROM documents
  WHERE doc_id % 5 = 0
    AND doc_id NOT IN (SELECT id_new FROM xpairs)
), bpairs AS (
  SELECT c.id1, c.id2
  FROM (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        FROM band a JOIN band b USING (band, bucket)
        JOIN kept0 k1 ON k1.doc_id = a.doc_id
        JOIN kept0 k2 ON k2.doc_id = b.doc_id
        WHERE a.doc_id < b.doc_id) c
  JOIN hv p1 ON p1.doc_id = c.id1
  JOIN hv p2 ON p2.doc_id = c.id2 AND p2.i = p1.i
  GROUP BY c.id1, c.id2
  HAVING SUM(CASE WHEN p1.mh = p2.mh THEN 1 ELSE 0 END) >= 16
), e2 AS (
  SELECT id1 AS u, id2 AS v FROM bpairs
  UNION
  SELECT id2, id1 FROM bpairs
), nodes AS (
  SELECT DISTINCT u AS id FROM e2
), reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e2.u, reach.r FROM reach JOIN e2 ON e2.v = reach.id
), comp AS (
  SELECT id, MIN(r) AS component FROM reach GROUP BY id
)
SELECT k.doc_id FROM kept0 k
WHERE NOT EXISTS (SELECT 1 FROM comp
                  WHERE comp.id = k.doc_id AND comp.component <> comp.id)
"""

    # hashed classifier inference: the oracle replays the md5 SLOT
    # arithmetic (not a token join — a corpus token colliding with a
    # weight slot must score in both engines)
    _clf_rows = ", ".join(
        f"(CAST({_clf_slot(t)} AS BIGINT), CAST({v} AS DOUBLE))"
        for t, v in sorted(_CLF_WEIGHTS.items()))
    hashed_score = f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN NULL
              ELSE list_filter(string_split_regex(lower(text),
                                                  '[^a-z0-9]+'),
                               x -> x <> '') END AS tk
  FROM documents
), occ AS (
  SELECT doc_id,
         ('0x' || substring(md5(tok), 1, 15))::BIGINT % {_CLF_DIM} AS slot
  FROM (SELECT doc_id, unnest(tk) AS tok FROM toks)
), sums AS (
  SELECT occ.doc_id, SUM(w.weight) AS sw
  FROM occ LEFT JOIN (VALUES {_clf_rows}) w(slot, weight) USING (slot)
  GROUP BY occ.doc_id
)
SELECT t.doc_id,
       CASE WHEN t.tk IS NULL THEN NULL
            WHEN len(t.tk) > 0
              THEN round({_CLF_BIAS} + coalesce(s.sw, 0) / len(t.tk), 6)
            ELSE round(CAST({_CLF_BIAS} AS DOUBLE), 6) END AS score
FROM toks t LEFT JOIN sums s USING (doc_id)
"""

    # incremental probe: same signature pipeline, NEW side = doc_id%5==0,
    # INDEXED side = the rest (replays q_minhash_probe's split exactly)
    minhash_probe = f"""
WITH sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, GREATEST(len(string_split(text, ' ')) - 2, 0)),
           i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
         ))) AS shingle
  FROM documents
), base AS (
  SELECT doc_id,
         ('0x' || substring(md5(shingle), 1, 15))::BIGINT % {_UHASH_M} AS h
  FROM sh
), hv AS (
  SELECT doc_id, i, MIN((h * a + b) % {_UHASH_M}) AS mh
  FROM base, (VALUES {_ab_rows}) ab(i, a, b)
  GROUP BY doc_id, i
), band AS (
  SELECT doc_id, i // 4 AS band,
         string_agg(mh::VARCHAR, ',' ORDER BY i) AS bucket
  FROM hv GROUP BY doc_id, i // 4
), cand AS (
  SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_indexed
  FROM band a JOIN band b USING (band, bucket)
  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
)
SELECT c.id_new, c.id_indexed,
       CAST(SUM(CASE WHEN p1.mh = p2.mh THEN 1 ELSE 0 END) AS INT) AS n_match
FROM cand c
JOIN hv p1 ON p1.doc_id = c.id_new
JOIN hv p2 ON p2.doc_id = c.id_indexed AND p2.i = p1.i
GROUP BY c.id_new, c.id_indexed
HAVING CAST(SUM(CASE WHEN p1.mh = p2.mh THEN 1 ELSE 0 END) AS DOUBLE) >= 0.5 * 32
"""

    # simhash: bits=60, max_hamming=12 → 13 chunks with bounds 60*i//13
    _sim_bounds = [60 * i // 13 for i in range(14)]
    _sim_chunks = ", ".join(
        f"({i}, {_sim_bounds[i]}, {_sim_bounds[i + 1]})" for i in range(13)
    )
    simhash_pairs = f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
), th AS (
  SELECT doc_id, ('0x' || substring(md5(tok || '#0'), 1, 15))::BIGINT AS h
  FROM tok
), votes AS (
  SELECT doc_id, i,
         CAST(SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v
  FROM th, generate_series(0, 59) t(i)
  GROUP BY doc_id, i
), sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT)
           AS simhash
  FROM votes GROUP BY doc_id
), chunks AS (
  SELECT doc_id, simhash, c.chunk_id,
         (simhash >> c.lo) & ((1::BIGINT << (c.hi - c.lo)) - 1) AS chunk
  FROM sig, (VALUES {_sim_chunks}) c(chunk_id, lo, hi)
), cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
                  a.simhash AS sh1, b.simhash AS sh2
  FROM chunks a JOIN chunks b
    ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk
  WHERE a.doc_id < b.doc_id
)
SELECT id1, id2, CAST(bit_count(xor(sh1, sh2)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sh1, sh2)) <= 12
"""

    _qv = ("list_transform(embedding, x -> "
           "CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
    _cos = (lambda dot, n1, n2:
            f"CAST({dot} AS DOUBLE) / (sqrt(CAST({n1} AS DOUBLE)) * "
            f"sqrt(CAST({n2} AS DOUBLE)))")
    _listdot = (lambda a, b:
                f"CAST(list_sum(list_transform(generate_series(1, len({a})), "
                f"i -> {a}[i] * {b}[i])) AS BIGINT)")
    _qaug = ("list_transform(embedding, x -> "
             "CAST(round(x * 1000) AS BIGINT))")
    semdedup = f"""
WITH RECURSIVE aug AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(embedding, x -> CAST(x AS DOUBLE) * 0.9 + 0.01)
  FROM embeddings WHERE vec_id % 10 = 0
), cn AS (
  SELECT vec_id, v,
         CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2
  FROM (SELECT vec_id, {_qaug} AS v FROM aug)
), cents AS (
  SELECT vec_id AS cent_id, v AS cvec, n2 AS ctn2
  FROM cn ORDER BY vec_id LIMIT 16
), cassign AS (
  SELECT vec_id, v, n2, cent_id FROM (
    SELECT c.vec_id, c.v, c.n2, ct.cent_id,
           ROW_NUMBER() OVER (PARTITION BY c.vec_id
             ORDER BY {_cos(_listdot("c.v", "ct.cvec"), "c.n2", "ct.ctn2")} DESC,
                      ct.cent_id ASC) AS r
    FROM cn c, cents ct
  ) WHERE r <= 1
), pairs AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2
  FROM cassign a JOIN cassign b
    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
  WHERE {_cos(_listdot("a.v", "b.v"), "a.n2", "b.n2")} >= 0.9
), e2 AS (
  SELECT id1 AS u, id2 AS v FROM pairs
  UNION
  SELECT id2, id1 FROM pairs
), nodes AS (SELECT DISTINCT u AS id FROM e2),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e2.u, reach.r FROM reach JOIN e2 ON e2.v = reach.id
), comp AS (
  SELECT id, MIN(r) AS component FROM reach GROUP BY id
), scored AS (
  SELECT c.vec_id, c.cent_id, comp.component,
         {_cos(_listdot("c.v", "ct.cvec"), "c.n2", "ct.ctn2")} AS ccos
  FROM cassign c
  JOIN cents ct ON c.cent_id = ct.cent_id
  LEFT JOIN comp ON comp.id = c.vec_id
), ranked AS (
  SELECT vec_id, cent_id, component,
         ROW_NUMBER() OVER (PARTITION BY component
                            ORDER BY ccos ASC, vec_id ASC) AS rk
  FROM scored
)
SELECT vec_id, cent_id, (component IS NULL OR rk = 1) AS keep
FROM ranked
"""

    ann_ivf = f"""
WITH cn AS (
  SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2
  FROM (SELECT vec_id, {_qv} AS v FROM embeddings)
), cents AS (
  SELECT vec_id AS cent_id, v AS cvec, n2 AS ctn2
  FROM cn ORDER BY vec_id LIMIT 16
), cassign AS (
  SELECT vec_id, v, n2, cent_id FROM (
    SELECT c.vec_id, c.v, c.n2, ct.cent_id,
           ROW_NUMBER() OVER (PARTITION BY c.vec_id
             ORDER BY {_cos(_listdot("c.v", "ct.cvec"), "c.n2", "ct.ctn2")} DESC,
                      ct.cent_id ASC) AS r
    FROM cn c, cents ct
  ) WHERE r <= 1
), qassign AS (
  SELECT vec_id, v, n2, cent_id FROM (
    SELECT c.vec_id, c.v, c.n2, ct.cent_id,
           ROW_NUMBER() OVER (PARTITION BY c.vec_id
             ORDER BY {_cos(_listdot("c.v", "ct.cvec"), "c.n2", "ct.ctn2")} DESC,
                      ct.cent_id ASC) AS r
    FROM cn c, cents ct WHERE c.vec_id < 10
  ) WHERE r <= 4
), ranked AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id
           ORDER BY {_cos(_listdot("q.v", "c.v"), "q.n2", "c.n2")} DESC,
                    c.vec_id ASC) AS rank
  FROM qassign q JOIN cassign c USING (cent_id)
  WHERE q.vec_id != c.vec_id
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
"""

    from bioframe_spark.datapipe.similarity import lsh_plane_components
    _planes = lsh_plane_components(6, 64)
    _bucket = " + ".join(
        f"(CASE WHEN list_sum(list_transform(generate_series(1, 64), "
        f"i -> v[i] * ([{', '.join(map(str, _planes[p]))}])[i])) >= 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(6)
    )
    ann_lsh = f"""
WITH vn AS (
  SELECT vec_id, v,
         CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2,
         {_bucket} AS bucket
  FROM (SELECT vec_id, {_qv} AS v FROM embeddings)
), ranked AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id
           ORDER BY {_cos(_listdot("q.v", "c.v"), "q.n2", "c.n2")} DESC,
                    c.vec_id ASC) AS rank
  FROM vn q JOIN vn c USING (bucket)
  WHERE q.vec_id < 10 AND q.vec_id != c.vec_id
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
"""

    ann_topk = """
WITH qv AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
  FROM embeddings WHERE vec_id < 10
), cv AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
  FROM embeddings
), qn AS (
  SELECT vec_id, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2, v FROM qv
), cn AS (
  SELECT vec_id, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2, v FROM cv
), pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(generate_series(1, len(q.v)),
              i -> q.v[i] * c.v[i])) AS BIGINT) AS dot,
         q.n2 AS qn2, c.n2 AS cn2
  FROM qn q, cn c WHERE q.vec_id != c.vec_id
), ranked AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY CAST(dot AS DOUBLE) / (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE))) DESC,
                    neighbor_id ASC
         ) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
"""
    events_hourly = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, COUNT(*) AS n, MIN(value) AS min_v, MAX(value) AS max_v
FROM events GROUP BY 1, 2
"""
    sessions = """
WITH ev AS (
  SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, COUNT(*) AS mult
  FROM events GROUP BY 1, 2
), lagged AS (
  SELECT user_id, ts_ms, mult,
         LAG(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) AS prev
  FROM ev
), marked AS (
  SELECT user_id, ts_ms, mult,
         SUM(CASE WHEN prev IS NULL OR ts_ms - prev > 86400000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts_ms
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM lagged
)
SELECT user_id, MIN(ts_ms) AS session_start, MAX(ts_ms) AS session_end,
       CAST(SUM(mult) AS BIGINT) AS n_events
FROM marked GROUP BY user_id, sess
"""
    events_json = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
"""
    overlap_outer = _CTE + f"""
SELECT a.aid, a.chrom, a.start, a."end", a.strand, a.qty,
       b.bid AS bid_b, b.chrom AS chrom_b, b.start AS start_b,
       b."end" AS end_b, b.strand AS strand_b
FROM a FULL JOIN b ON a.chrom = b.chrom AND {ov_ab}
"""
    make_chromarms = _CTE + """
SELECT chrom, CAST(vs AS BIGINT) AS start, CAST(ve AS BIGINT) AS "end",
       vname AS name
FROM arms
"""
    cluster_on = _CTE + """, bx AS (
  SELECT chrom, strand, start, "end", bid FROM b
), isl AS (
  SELECT chrom, strand, start, "end", cnt,
         SUM(CASE WHEN prev_max IS NULL OR start > prev_max THEN 1 ELSE 0 END)
           OVER (PARTITION BY chrom, strand ORDER BY start, "end"
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM (
    SELECT chrom, strand, start, "end", cnt,
           MAX("end") OVER (PARTITION BY chrom, strand ORDER BY start, "end"
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
    FROM (SELECT chrom, strand, start, "end", COUNT(*) AS cnt
          FROM bx GROUP BY 1, 2, 3, 4)
  )
), rows_isl AS (
  SELECT bx.bid, bx.chrom, bx.strand, bx.start, bx."end", i.island
  FROM bx JOIN isl i ON bx.chrom = i.chrom AND bx.strand = i.strand
                    AND bx.start = i.start AND bx."end" = i."end"
), spans AS (
  SELECT chrom, strand, island, MIN(start) AS cs, MAX("end") AS ce,
         DENSE_RANK() OVER (ORDER BY chrom, strand, island) - 1 AS cluster
  FROM rows_isl GROUP BY chrom, strand, island
)
SELECT r.bid, r.chrom, r.start, r."end", r.strand,
       sp.cluster, sp.cs AS cluster_start, sp.ce AS cluster_end
FROM rows_isl r
JOIN spans sp ON r.chrom = sp.chrom AND r.strand = sp.strand AND r.island = sp.island
"""
    natsort_key = r"""
WITH src AS (
  SELECT p_partkey AS pid,
         CASE WHEN p_partkey % 23 = 21 THEN 'chrX'
              WHEN p_partkey % 23 = 22 THEN 'chrY'
              ELSE 'chr' || (p_partkey % 23 + 1)
                   || (CASE WHEN p_partkey % 5 = 0 THEN '_alt' ELSE '' END)
         END AS chrom
  FROM part
)
SELECT pid, chrom,
       concat(
         regexp_extract(chrom, '^(\D*)', 1),
         CASE WHEN regexp_extract(chrom, '^\D*(\d+)', 1) = '' THEN ''
              ELSE lpad(regexp_extract(chrom, '^\D*(\d+)', 1), 12, '0') END,
         regexp_extract(chrom, '^\D*\d+(.*)$', 1)
       ) AS natkey
FROM src
"""
    pileup_weighted = _CTE + """, ev AS (
  SELECT chrom, start AS pos, qty AS d FROM a
  UNION ALL
  SELECT chrom, "end" AS pos, -qty AS d FROM a
), evagg AS (
  SELECT chrom, pos, SUM(d) AS d FROM ev GROUP BY 1, 2
), seg AS (
  SELECT chrom, pos,
         CAST(SUM(d) OVER (PARTITION BY chrom ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS depth,
         LEAD(pos) OVER (PARTITION BY chrom ORDER BY pos) AS next_pos
  FROM evagg
)
SELECT chrom, pos AS start, next_pos AS "end", depth
FROM seg WHERE next_pos IS NOT NULL AND depth != 0 AND pos < next_pos
"""
    overlap_right = _CTE + f"""
SELECT a.aid, a.chrom, a.start, a."end", a.strand, a.qty,
       b.bid AS bid_b, b.chrom AS chrom_b, b.start AS start_b,
       b."end" AS end_b, b.strand AS strand_b
FROM a RIGHT JOIN b ON a.chrom = b.chrom AND {ov_ab}
"""
    setdiff_on = _CTE + f"""
SELECT a.* FROM a
WHERE NOT EXISTS (
  SELECT 1 FROM b WHERE a.chrom = b.chrom AND a.strand = b.strand AND {ov_ab}
)
"""
    count_overlaps_on = _CTE + f"""
SELECT a.aid, a.chrom, a.start, a."end", a.strand, a.qty,
       COUNT(b.chrom) AS count
FROM a LEFT JOIN b ON a.chrom = b.chrom AND a.strand = b.strand AND {ov_ab}
GROUP BY ALL
"""
    # BM25 over documents, query "merge scan fast value" (k1=1.2, b=0.75).
    # Formula written with the SAME association as the Spark expression;
    # every literal cast to DOUBLE (DuckDB decimal-point literals are
    # DECIMAL); the 6-decimal round absorbs sum-order FP differences.
    bm25 = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS tk
  FROM documents
), corpus AS (
  SELECT count(*) AS n, avg(len(tk)) AS avgdl FROM toks
), tf AS (
  SELECT doc_id, len(tk) AS dl, tok, count(*) AS tf
  FROM (SELECT doc_id, tk, unnest(tk) AS tok FROM toks)
  WHERE tok IN ('merge', 'scan', 'fast', 'value')
  GROUP BY 1, 2, 3
), dft AS (
  SELECT tok, count(*) AS dft FROM tf GROUP BY 1
)
SELECT t.doc_id,
       round(sum(
         ln(CAST(1.0 AS DOUBLE)
            + (CAST(c.n AS DOUBLE) - d.dft + CAST(0.5 AS DOUBLE))
              / (d.dft + CAST(0.5 AS DOUBLE)))
         * (t.tf * (CAST(1.2 AS DOUBLE) + 1))
         / (t.tf + CAST(1.2 AS DOUBLE)
              * (CAST(0.25 AS DOUBLE)
                 + CAST(0.75 AS DOUBLE) * t.dl / c.avgdl))
       ), 6) AS score
FROM tf t JOIN dft d USING (tok) CROSS JOIN corpus c
GROUP BY t.doc_id
"""

    # Multi-query BM25 (one corpus pass, broadcast query-term map); the
    # term stats (dft, avgdl, N) are corpus properties shared by every
    # query — identical formula/association as the single-query row.
    bm25_multi = """
WITH qmap AS (
  SELECT * FROM (VALUES
    ('qa', 'merge'), ('qa', 'scan'), ('qa', 'fast'), ('qa', 'value'),
    ('qb', 'table'), ('qb', 'hash'), ('qb', 'batch')) AS t(query_id, tok)
), toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS tk
  FROM documents
), corpus AS (
  SELECT count(*) AS n, avg(len(tk)) AS avgdl FROM toks
), tf AS (
  SELECT doc_id, len(tk) AS dl, tok, count(*) AS tf
  FROM (SELECT doc_id, tk, unnest(tk) AS tok FROM toks)
  WHERE tok IN (SELECT DISTINCT tok FROM qmap)
  GROUP BY 1, 2, 3
), dft AS (
  SELECT tok, count(*) AS dft FROM tf GROUP BY 1
)
SELECT q.query_id, t.doc_id,
       round(sum(
         ln(CAST(1.0 AS DOUBLE)
            + (CAST(c.n AS DOUBLE) - d.dft + CAST(0.5 AS DOUBLE))
              / (d.dft + CAST(0.5 AS DOUBLE)))
         * (t.tf * (CAST(1.2 AS DOUBLE) + 1))
         / (t.tf + CAST(1.2 AS DOUBLE)
              * (CAST(0.25 AS DOUBLE)
                 + CAST(0.75 AS DOUBLE) * t.dl / c.avgdl))
       ), 6) AS score
FROM tf t JOIN dft d USING (tok) JOIN qmap q USING (tok)
CROSS JOIN corpus c
GROUP BY q.query_id, t.doc_id
"""

    # Lee-et-al-style span REMOVAL (k=25, w=16): position-aware winnowing
    # (rightmost argmin per window — the robust-winnowing tie rule the
    # Spark kernel's >=-pop deque implements), min-id keeper per dup
    # fingerprint, gaps-and-islands merge of [pos, pos+25) cut spans,
    # string reconstruction from the kept segments.
    span_removal = """
WITH grams AS (
  SELECT doc_id, text,
         list_transform(generate_series(1, greatest(length(text) - 24, 0)),
                        p -> md5(substr(text, p, 25))) AS H
  FROM documents
), sel AS (
  SELECT doc_id, H,
    CASE WHEN len(H) = 0 THEN []
         WHEN len(H) < 16 THEN
           [len(H) - list_position(list_reverse(H), list_aggregate(H, 'min'))]
         ELSE list_distinct(list_transform(
            generate_series(1, len(H) - 15),
            i -> i + 16 - list_position(
                   list_reverse(list_slice(H, i, i + 15)),
                   list_aggregate(list_slice(H, i, i + 15), 'min')) - 1))
    END AS pos0
  FROM grams WHERE text IS NOT NULL
), sp AS (
  SELECT doc_id, unnest(pos0) AS pos, H[unnest(pos0) + 1] AS h FROM sel
), stats AS (
  SELECT h, min(doc_id) AS keeper
  FROM sp GROUP BY h HAVING count(DISTINCT doc_id) >= 2
), cutpos AS (
  SELECT sp.doc_id, sp.pos FROM sp JOIN stats USING (h)
  WHERE sp.doc_id <> stats.keeper
), isl AS (
  SELECT doc_id, pos,
         sum(CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (SELECT doc_id, pos,
               max(pos + 25) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        FROM cutpos)
), spans AS (
  SELECT doc_id, island, min(pos) AS s, max(pos) + 25 AS e
  FROM isl GROUP BY 1, 2
), segrows AS (
  SELECT sg.doc_id, sg.s, sg.e,
         substr(g.text, sg.pe + 1, sg.s - sg.pe) AS seg, g.text AS text
  FROM (SELECT doc_id, s, e,
               lag(e, 1, 0) OVER (PARTITION BY doc_id ORDER BY s) AS pe
        FROM spans) sg
  JOIN grams g USING (doc_id)
), percut AS (
  SELECT doc_id,
         string_agg(seg, '' ORDER BY s)
           || substr(any_value(text), max(e) + 1) AS new_text,
         count(*) AS n_cut_spans,
         CAST(sum(e - s) AS BIGINT) AS n_removed_chars
  FROM segrows GROUP BY doc_id
)
SELECT d.doc_id,
       CASE WHEN d.text IS NULL THEN NULL
            ELSE coalesce(p.new_text, d.text) END AS text,
       CASE WHEN d.text IS NULL THEN NULL
            ELSE coalesce(p.n_cut_spans, 0) END AS n_cut_spans,
       CASE WHEN d.text IS NULL THEN NULL
            ELSE coalesce(p.n_removed_chars, 0) END AS n_removed_chars
FROM documents d LEFT JOIN percut p USING (doc_id)
"""

    # Winnowed repeated-span stats (k=25, w=16, min_docs=2): md5 k-gram
    # hashes, window minima, distinct; dup = fingerprint in >=2 docs.
    dup_spans = """
WITH fps AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN NULL
              WHEN len(H) = 0 THEN []
              WHEN len(H) < 16 THEN [list_aggregate(H, 'min')]
              ELSE list_distinct(list_transform(
                     generate_series(1, len(H) - 15),
                     i -> list_aggregate(list_slice(H, i, i + 15), 'min')))
         END AS sel
  FROM (
    SELECT doc_id, text,
           list_transform(generate_series(1, greatest(length(text) - 24, 0)),
                          p -> md5(substr(text, p, 25))) AS H
    FROM documents)
), sp AS (
  SELECT doc_id, unnest(sel) AS h FROM fps
), dup AS (
  SELECT h FROM sp GROUP BY h HAVING count(DISTINCT doc_id) >= 2
), dc AS (
  SELECT doc_id, count(*) AS n_dup FROM sp JOIN dup USING (h) GROUP BY 1
)
SELECT f.doc_id,
       CASE WHEN sel IS NULL THEN NULL ELSE len(sel) END AS n_spans,
       CASE WHEN sel IS NULL THEN NULL
            ELSE coalesce(dc.n_dup, 0) END AS n_dup_spans,
       CASE WHEN len(sel) > 0
            THEN round(coalesce(dc.n_dup, 0) / len(sel), 9) END AS dup_frac
FROM fps f LEFT JOIN dc USING (doc_id)
"""

    select_mask = _CTE + """, idx AS (
  SELECT chrom, start, "end",
         ROW_NUMBER() OVER (ORDER BY chrom, start, "end") - 1 AS "index"
  FROM a
)
SELECT "index",
       (chrom = 'chr1' AND start < 25000 AND "end" > 1000) AS mask
FROM idx
"""

    select_indices = _CTE + """, idx AS (
  SELECT chrom, start, "end",
         ROW_NUMBER() OVER (ORDER BY chrom, start, "end") - 1 AS "index"
  FROM a
)
SELECT "index" FROM idx
WHERE chrom = 'chr1' AND start < 25000 AND "end" > 1000
"""
    select_labels = _CTE + """
SELECT aid AS label FROM a
WHERE chrom = 'chr1' AND start < 25000 AND "end" > 1000
"""
    # assign largest-overlap arm per DISTINCT coordinate key (assignment
    # depends only on coords; aid is NOT unique in the derived table), then
    # the view-row ordinal position: arms_view order is chr0_p(1),
    # chr0_q(2), chr1_p(3)… Position ties broken by the FULL row so exact
    # duplicates are interchangeable and the pos multiset is deterministic.
    sort_view_rank = _CTE + """, best AS (
  SELECT chrom, start, "end", vname FROM (
    SELECT c.chrom, c.start, c."end", v.vname, v.vs,
           ROW_NUMBER() OVER (
             PARTITION BY c.chrom, c.start, c."end"
             ORDER BY LEAST(c."end", v.ve) - GREATEST(c.start, v.vs) DESC, v.vs ASC
           ) AS rk
    FROM (SELECT DISTINCT chrom, start, "end" FROM a) c
    JOIN arms v ON c.chrom = v.chrom AND c.start < v.ve AND v.vs < c."end"
  ) WHERE rk = 1
), av AS (
  SELECT a.aid, a.chrom, a.start, a."end", a.strand, a.qty,
         b.vname AS view_region
  FROM a JOIN best b USING (chrom, start, "end")
)
SELECT aid, chrom, start, "end", strand, qty, view_region,
       ROW_NUMBER() OVER (ORDER BY
         2 * CAST(substr(chrom, 4) AS INT)
           + CASE WHEN right(view_region, 2) = '_p' THEN 1 ELSE 2 END,
         chrom, start, "end", aid, strand, qty) AS pos
FROM av
"""
    checks_sql = _CTE + f""", gaps AS (
  SELECT m.chrom,
         COALESCE(LAG(e) OVER (PARTITION BY m.chrom ORDER BY s), 0) AS gs,
         s AS ge
  FROM (
    SELECT chrom, MIN(start) AS s, MAX("end") AS e
    FROM ({_islands_sql('a')}) GROUP BY chrom, island
  ) m
), flags AS (
  SELECT
    ((SELECT COUNT(*) FROM a WHERE chrom IS NULL OR start IS NULL
        OR "end" IS NULL OR start > "end") = 0) AS is_bedframe,
    EXISTS (SELECT 1 FROM a x JOIN a y
            ON x.chrom = y.chrom AND x.start < y."end" AND y.start < x."end"
            AND x.aid <> y.aid) AS is_overlapping,
    (((SELECT COUNT(*) FROM arms WHERE chrom IS NULL OR vs IS NULL
        OR ve IS NULL OR vname IS NULL OR vs > ve) = 0)
     AND ((SELECT COUNT(*) FROM (SELECT vname FROM arms GROUP BY vname
           HAVING COUNT(*) > 1)) = 0)
     AND NOT EXISTS (SELECT 1 FROM arms x JOIN arms y
         ON x.chrom = y.chrom AND x.vs < y.ve AND y.vs < x.ve
         AND x.vname <> y.vname)) AS is_viewframe,
    NOT EXISTS (
      SELECT 1 FROM (
        SELECT c.start, c."end", v.vs, v.ve,
               ROW_NUMBER() OVER (
                 PARTITION BY c.chrom, c.start, c."end"
                 ORDER BY LEAST(c."end", v.ve) - GREATEST(c.start, v.vs) DESC,
                          v.vs ASC) AS rk
        FROM (SELECT DISTINCT chrom, start, "end" FROM a) c
        JOIN arms v ON c.chrom = v.chrom
          AND c.start < v.ve AND v.vs < c."end"
      ) WHERE rk = 1 AND (start < vs OR "end" > ve)
    ) AS is_contained,
    NOT EXISTS (SELECT 1 FROM gaps WHERE gs < ge) AS is_covering_gapless,
    NOT EXISTS (
      SELECT 1 FROM (SELECT chrom, MAX(e) AS me FROM
        (SELECT chrom, MIN(start) AS s, MAX("end") AS e
         FROM ({_islands_sql('a')}) GROUP BY chrom, island) GROUP BY chrom) t
      JOIN chroms c ON t.chrom = c.chrom WHERE t.me < c.clen
    ) AS is_covering_tail
)
SELECT is_bedframe, is_overlapping, is_viewframe, is_contained,
       (is_covering_gapless AND is_covering_tail) AS is_covering,
       (is_covering_gapless AND is_covering_tail AND is_contained
        AND NOT is_overlapping) AS is_tiling
FROM flags
"""
    media_pipeline = """
WITH m AS (
  -- DuckDB md5(VARCHAR) hashes the string's utf-8 bytes == Spark's
  -- md5(encode(text,'UTF-8')); octet_length needs the explicit BLOB
  SELECT doc_id AS media_id, md5(text) AS payload_md5,
         octet_length(encode(text)) AS n_bytes,
         (length(text) % 5000 + 1000) AS duration_ms
  FROM documents
)
SELECT media_id, payload_md5, n_bytes,
       -- FLOOR, not a bare cast: DuckDB CAST(double AS BIGINT) rounds
       -- half-away while Spark .cast("long") truncates
       GREATEST(CAST(FLOOR(duration_ms / 500.0) AS BIGINT) - 1, 0) + 1 AS n_frames,
       GREATEST(CAST(FLOOR(duration_ms / 500.0) AS BIGINT) - 1, 0) * 500 AS last_ts
FROM m
"""
    frac_gc = """
WITH iv AS (
  SELECT CAST(p_partkey AS BIGINT) AS pid,
         'chr' || CAST(p_partkey % 3 AS VARCHAR) AS chrom,
         CAST((p_partkey * 37) % 100000 AS BIGINT) AS start,
         CAST((p_partkey * 37) % 100000 + 20 + (p_partkey % 60) AS BIGINT) AS "end",
         CAST(p_partkey % 3 AS BIGINT) AS cid
  FROM part),
pos AS (
  SELECT pid, chrom, start, "end", cid, unnest(range(start, "end")) AS p
  FROM iv),
stats AS (
  SELECT pid, chrom, start, "end",
         SUM(CASE WHEN p % 17 <> 0 THEN 1 ELSE 0 END) AS mapped,
         SUM(CASE WHEN p % 17 <> 0 AND (7*p + 13*cid) % 4 IN (1, 2)
                  THEN 1 ELSE 0 END) AS gc,
         COUNT(*) AS n
  FROM pos GROUP BY pid, chrom, start, "end")
SELECT pid, chrom, start, "end",
       CASE WHEN mapped > 0
            THEN CAST(gc AS DOUBLE) / CAST(mapped AS DOUBLE) END AS GC,
       CAST(mapped AS DOUBLE) / CAST(n AS DOUBLE) AS frac_mapped
FROM stats
"""

    digest_sql = """
WITH chroms(chrom, cid, len) AS (VALUES ('chr0', 0, 30000), ('chr1', 1, 27001)),
pos AS (SELECT chrom, cid, len, unnest(range(0, len - 3)) AS p FROM chroms),
cuts AS (
  SELECT chrom, len, p FROM pos
  WHERE p % 17 <> 0 AND (p+1) % 17 <> 0 AND (p+2) % 17 <> 0 AND (p+3) % 17 <> 0
    AND (7*p     + 13*cid) % 4 = 0
    AND (7*(p+1) + 13*cid) % 4 = 3
    AND (7*(p+2) + 13*cid) % 4 = 2
    AND (7*(p+3) + 13*cid) % 4 = 1
    AND p > 0),
bounds AS (
  SELECT chrom, p FROM cuts
  UNION ALL SELECT chrom, CAST(len AS BIGINT) AS p FROM chroms)
SELECT chrom,
       CAST(COALESCE(LAG(p) OVER (PARTITION BY chrom ORDER BY p), 0) AS BIGINT)
         AS start,
       CAST(p AS BIGINT) AS "end",
       CAST(ROW_NUMBER() OVER (PARTITION BY chrom ORDER BY p) - 1 AS BIGINT)
         AS n_fragment
FROM bounds
"""

    stream_count = _CTE + f"""
SELECT b.bid, b.chrom, b.start, b."end", b.strand,
       COUNT(*) AS count
FROM b JOIN a ON a.chrom = b.chrom AND {ov_ab}
GROUP BY ALL
"""

    stream_coverage = _CTE + f"""
SELECT b.bid, b.chrom, b.start, b."end", b.strand,
       CAST(SUM(LEAST(a."end", b."end") - GREATEST(a.start, b.start))
            AS BIGINT) AS covered_bp
FROM b JOIN a ON a.chrom = b.chrom AND {ov_ab}
GROUP BY ALL
"""

    # Two-phase candidates, so the ranking never sees every per-chromosome
    # a x b pair: first the pairs with idist <= w, then the full
    # per-chromosome pairs only for rows that have none of those. Exact:
    # when a row has a windowed candidate, its minimal idist is <= w, so
    # every candidate at the minimum (ties included) is in the window.
    # The band join keeps every pair with idist <= w: overlapping pairs
    # satisfy it, and otherwise idist - 1 >= max(b.start - a.end,
    # a.start - b.end).
    w = 10_000
    pairs = """SELECT a3.chrom, a3.start, a3."end",
         b.bid, b.start AS ss, b."end" AS se, b.strand AS st,
         CASE WHEN a3.start < b."end" AND b.start < a3."end" THEN 0
              ELSE GREATEST(a3.start, b.start)
                   - LEAST(a3."end", b."end") + 1
         END AS idist
  FROM {a3} JOIN b ON a3.chrom = b.chrom"""
    stream_closest = _CTE + f""", a3 AS (
  SELECT DISTINCT chrom, start, "end" FROM a
), near AS (
  SELECT * FROM ({pairs.format(a3="a3")}
    AND b.start <= a3."end" + {w} AND a3.start <= b."end" + {w})
  WHERE idist <= {w}
), cand AS (
  SELECT * FROM near
  UNION ALL
  {pairs.format(a3='(SELECT * FROM a3 ANTI JOIN near USING (chrom, start, "end")) a3')}
), hits AS (
  SELECT chrom, start, "end", bid, ss, se, st,
         CASE WHEN idist = 0 THEN 0 ELSE idist - 1 END AS distance
  FROM cand
  QUALIFY ROW_NUMBER() OVER (
     PARTITION BY chrom, start, "end" ORDER BY idist, ss, se) = 1
)
SELECT a.chrom, a.start, a."end",
       h.bid AS bid_ann,
       CASE WHEN h.bid IS NOT NULL THEN a.chrom END AS chrom_ann,
       h.ss AS start_ann, h.se AS end_ann, h.st AS strand_ann, h.distance
FROM (SELECT chrom, start, "end" FROM a) a
LEFT JOIN hits h USING (chrom, start, "end")
"""

    return {
        "overlap_inner": overlap_inner,
        "overlap_left": overlap_left,
        "overlap_binned": overlap_inner,  # same semantics, different physical plan
        "overlap_prebinned": overlap_inner,  # same pairs off the stored layout
        "overlap_on": overlap_on,
        "overlap_outer": overlap_outer,
        "make_chromarms": make_chromarms,
        "cluster_on": cluster_on,
        "natsort_key": natsort_key,
        "count_overlaps": count_overlaps,
        "coverage": coverage,
        "setdiff": setdiff,
        "merge": merge,
        "merge_strict": merge_strict,
        "cluster": cluster,
        "complement": complement,
        "closest": closest_tmpl.replace("{K}", "1"),
        "closest_k2": closest_tmpl.replace("{K}", "2"),
        "closest_broadcast": closest_broadcast_sql,
        "subtract": subtract,
        "trim_expand": trim_expand,
        "expand_scale": expand_scale,
        "select_region": select_region,
        "assign_view": assign_view,
        "binnify": binnify,
        "pair_by_distance": pair_by_distance,
        "pileup": pileup,
        "mark_runs": mark_runs,
        "merge_runs": merge_runs,
        "gene_coverage": gene_coverage,
        "dedup_exact": dedup_exact,
        "text_stats": text_stats,
        "redact": redact,
        "boilerplate": boilerplate,
        "repetition": repetition,
        "dedup_lines": dedup_lines_sql,
        "gopher": gopher,
        "gopher_count": gopher_count,
        "chunk_docs": chunk_docs,
        "pack_seqs": pack_seqs,
        "contamination": contamination,
        "text_fingerprints": text_fingerprints,
        "language_id": language_id,
        "jaccard_pairs": jaccard_pairs,
        "jaccard_cutoff": jaccard_cutoff,
        "dedup_components": dedup_components,
        "dedup_canonical": dedup_canonical,
        "curate": curate,
        "sample_users": sample_users,
        "domain_cap": domain_cap,
        "mixture": mixture,
        "sample_mix": sample_mix,
        "train_split": train_split,
        "minhash_lsh": minhash_lsh,
        "minhash_probe": minhash_probe,
        "incremental_dedup": incremental_dedup,
        "hashed_score": hashed_score,
        # the streamed snapshot is the batch op on the same rows —
        # identical oracle
        "stream_quality": hashed_score,
        # step order mirrors normalize_text: control-strip -> NFC ->
        # lower -> whitespace collapse + trim; explicit \x0b class (Java
        # \s and RE2 \s disagree there)
        "normalize": """
SELECT doc_id,
       CASE WHEN text IS NULL THEN NULL
            ELSE trim(regexp_replace(
                   lower(nfc_normalize(regexp_replace(
                     text, '[\\x00-\\x08\\x0e-\\x1f\\x7f]',
                     '', 'g'))),
                   '[ \\t\\n\\r\\f\\x0b]+', ' ', 'g'))
       END AS text
FROM documents
""",
        "simhash_pairs": simhash_pairs,
        "embedding_dups": embedding_dups,
        "ann_topk": ann_topk,
        "ann_ivf": ann_ivf,
        "semdedup": semdedup,
        "ann_ivf_indexed": ann_ivf,  # bit-identical off the stored index
        "ann_lsh": ann_lsh,
        "events_hourly": events_hourly,
        "sessions": sessions,
        "events_json": events_json,
        # scale-path variants: same semantics as the classic plans, so the
        # classic oracles apply verbatim — the POINT is that the driver
        # proves the 100 TB physical plans value-identical
        "closest_binned": closest_tmpl.replace("{K}", "1"),
        "closest_perchrom": closest_tmpl.replace("{K}", "1"),
        "merge_ranged": merge,
        "complement_ranged": complement,
        "pileup_ranged": pileup,
        "setdiff_binned": setdiff,
        "coverage_binned": coverage,
        "pileup_weighted": pileup_weighted,
        "overlap_right": overlap_right,
        "setdiff_on": setdiff_on,
        "count_overlaps_on": count_overlaps_on,
        "select_indices": select_indices,
        "select_mask": select_mask,
        "bm25": bm25,
        "bm25_multi": bm25_multi,
        "dup_spans": dup_spans,
        # strategy="join" is value-identical by contract — the same SQL
        # oracle checks both physical paths
        "dup_spans_join": dup_spans,
        "span_removal": span_removal,
        # MOSS-shape document pairs by shared winnowed fingerprints
        # (min_shared=2, df-cutoff [2, 1024])
        "span_dup_pairs": """
WITH fps AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN NULL
              WHEN len(H) = 0 THEN []
              WHEN len(H) < 16 THEN [list_aggregate(H, 'min')]
              ELSE list_distinct(list_transform(
                     generate_series(1, len(H) - 15),
                     i -> list_aggregate(list_slice(H, i, i + 15), 'min')))
         END AS sel
  FROM (
    SELECT doc_id, text,
           list_transform(generate_series(1, greatest(length(text) - 24, 0)),
                          p -> md5(substr(text, p, 25))) AS H
    FROM documents)
), sp AS (
  SELECT doc_id, unnest(sel) AS h FROM fps
), keep AS (
  SELECT h FROM sp GROUP BY h HAVING count(*) BETWEEN 2 AND 1024
), s2 AS (
  SELECT doc_id, h FROM sp JOIN keep USING (h)
)
SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_shared
FROM s2 a JOIN s2 b USING (h)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 2
""",
        # span decontamination (streamed): same winnow-value selection
        # machinery as dup_spans; eval set = docs with doc_id % 10 == 0
        "stream_span_contam": """
WITH fps AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN NULL
              WHEN len(H) = 0 THEN []
              WHEN len(H) < 16 THEN [list_aggregate(H, 'min')]
              ELSE list_distinct(list_transform(
                     generate_series(1, len(H) - 15),
                     i -> list_aggregate(list_slice(H, i, i + 15), 'min')))
         END AS sel
  FROM (
    SELECT doc_id, text,
           list_transform(generate_series(1, greatest(length(text) - 24, 0)),
                          p -> md5(substr(text, p, 25))) AS H
    FROM documents)
), ev AS (
  SELECT DISTINCT unnest(sel) AS h FROM fps WHERE doc_id % 10 = 0
), sp AS (
  SELECT doc_id, unnest(sel) AS h FROM fps
), cont AS (
  SELECT sp.doc_id, count(*) AS nc FROM sp JOIN ev USING (h) GROUP BY 1
)
SELECT f.doc_id,
       CASE WHEN sel IS NULL THEN NULL ELSE len(sel) END AS n_spans,
       CASE WHEN sel IS NULL THEN NULL
            ELSE coalesce(c.nc, 0) END AS n_contaminated,
       CASE WHEN len(sel) > 0
            THEN round(coalesce(c.nc, 0) / len(sel), 9) END AS contamination
FROM fps f LEFT JOIN cont c USING (doc_id)
""",
        "vocab_topk": """
SELECT tok AS token, count(*) AS cnt
FROM (SELECT unnest(list_filter(string_split_regex(lower(text),
                                                   '[^a-z0-9]+'),
                                x -> x <> '')) AS tok
      FROM documents)
GROUP BY 1
ORDER BY cnt DESC, token
LIMIT 50
""",
        "score_buckets": """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             x -> x <> '') AS tk
  FROM documents
), t AS (
  SELECT doc_id, unnest(tk) AS token FROM toks
), w(token, weight) AS (
  VALUES ('merge', CAST(1.5 AS DOUBLE)), ('scan', CAST(-0.75 AS DOUBLE)),
         ('value', CAST(0.25 AS DOUBLE)), ('fast', CAST(2.0 AS DOUBLE)),
         ('hash', CAST(-1.25 AS DOUBLE)), ('table', CAST(0.5 AS DOUBLE))
), s AS (
  SELECT doc_id, sum(weight) AS sw FROM t JOIN w USING (token) GROUP BY 1
), qsc AS (
  SELECT k.doc_id,
         CASE WHEN k.tk IS NULL THEN NULL
              ELSE round(CAST(0.25 AS DOUBLE) + coalesce(s.sw, 0), 6)
         END AS score
  FROM toks k LEFT JOIN s USING (doc_id)
), th AS (
  SELECT quantile_cont(score, [CAST(1 AS DOUBLE)/3, CAST(2 AS DOUBLE)/3]) AS t
  FROM qsc
)
SELECT q.doc_id, q.score,
       CASE WHEN q.score IS NULL THEN NULL
            WHEN q.score <= th.t[1] THEN 0
            WHEN q.score <= th.t[2] THEN 1
            ELSE 2 END AS bucket
FROM qsc q, th
""",
        "lm_score": """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             x -> x <> '') AS tk
  FROM documents
), bi AS (
  SELECT doc_id, r.p AS p, r.c AS c
  FROM (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(tk) - 1),
                                     i -> {'p': tk[i], 'c': tk[i + 1]})) AS r
        FROM toks WHERE len(tk) >= 2)
), uni AS (
  SELECT token AS p, count(*) AS uc
  FROM (SELECT unnest(tk) AS token FROM toks) GROUP BY 1
), bic AS (
  SELECT p, c, count(*) AS bc FROM bi GROUP BY 1, 2
), nv AS (SELECT count(*) AS v FROM uni),
lp AS (
  SELECT b.doc_id,
         ln((bc.bc + CAST(0.5 AS DOUBLE))
            / (u.uc + CAST(0.5 AS DOUBLE) * nv.v)) AS l
  FROM bi b JOIN bic bc USING (p, c) JOIN uni u USING (p), nv
), s AS (
  SELECT doc_id, avg(l) AS score, count(*) AS nb FROM lp GROUP BY 1
)
SELECT t.doc_id,
       CASE WHEN t.tk IS NULL THEN NULL ELSE round(s.score, 6) END AS score,
       CASE WHEN t.tk IS NULL THEN NULL ELSE coalesce(s.nb, 0) END AS n_bigrams
FROM toks t LEFT JOIN s USING (doc_id)
""",
        "word_freqs": """
SELECT tok AS word, count(*) AS freq
FROM (SELECT unnest(list_filter(string_split_regex(lower(text),
                                                   '[^a-z0-9]+'),
                                x -> x <> '')) AS tok
      FROM documents)
GROUP BY 1
HAVING count(*) >= 2
ORDER BY freq DESC, word
LIMIT 100
""",
        "corpus_stats": """
WITH tk AS (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents WHERE text IS NOT NULL
), s AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         count(*) AS n_text,
         CAST(coalesce(sum(len(t)), 0) AS BIGINT) AS n_tokens
  FROM tk
), v AS (
  SELECT count(DISTINCT tok) AS n_distinct_tokens
  FROM (SELECT unnest(t) AS tok FROM tk)
)
SELECT n_docs, n_text, n_tokens, n_distinct_tokens,
       round(CAST(n_tokens AS DOUBLE) / n_text, 6) AS avg_doc_tokens
FROM s, v
""",
        "quality_score": """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             x -> x <> '') AS tk
  FROM documents
), t AS (
  SELECT doc_id, unnest(tk) AS token FROM toks
), w(token, weight) AS (
  VALUES ('merge', CAST(1.5 AS DOUBLE)), ('scan', CAST(-0.75 AS DOUBLE)),
         ('value', CAST(0.25 AS DOUBLE)), ('fast', CAST(2.0 AS DOUBLE)),
         ('hash', CAST(-1.25 AS DOUBLE)), ('table', CAST(0.5 AS DOUBLE))
), s AS (
  SELECT doc_id, sum(weight) AS sw FROM t JOIN w USING (token) GROUP BY 1
)
SELECT k.doc_id,
       CASE WHEN k.tk IS NULL THEN NULL
            ELSE round(CAST(0.25 AS DOUBLE) + coalesce(s.sw, 0), 6)
       END AS score
FROM toks k LEFT JOIN s USING (doc_id)
""",
        "token_pairs": """
SELECT pair, count(*) AS cnt
FROM (SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
                                   i -> tk[i] || ' ' || tk[i + 1])) AS pair
      FROM (SELECT list_filter(string_split_regex(lower(text),
                                                  '[^a-z0-9]+'),
                               x -> x <> '') AS tk
            FROM documents)
      WHERE len(tk) >= 2)
GROUP BY 1
ORDER BY cnt DESC, pair
LIMIT 50
""",
        "select_labels": select_labels,
        "sort_view_rank": sort_view_rank,
        "checks": checks_sql,
        "media_pipeline": media_pipeline,
        "frac_gc": frac_gc,
        "digest": digest_sql,
        # the streaming merge's final snapshot is definitionally the batch
        # merge of everything streamed — same islands oracle
        "stream_merge": merge,
        # streaming cluster: batch islands + per-chrom dense ids over the
        # distinct-row multiset (n_copies = multiplicities)
        "stream_cluster": stream_cluster_sql,
        # streaming complement: batch complement restricted to touched
        # chroms (every a chrom is touched, so no untouched-branch rows)
        "stream_complement": stream_complement_sql,
        "stream_count": stream_count,
        "stream_closest": stream_closest,
        "stream_coverage": stream_coverage,
    }


# --------------------------------------------------------------------------
# entry (flagship smoke query)
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: interval join + merge + coverage pipeline at sf0.001."""
    a = ivals_a(spark, SF_DEFAULT)
    b = ivals_b(spark, SF_DEFAULT)
    cov = bf.coverage(a, b.select("chrom", "start", "end"))
    return (
        cov.groupBy("chrom")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("coverage").alias("covered_bp"),
            F.sum(F.col("end") - F.col("start")).alias("total_bp"),
        )
        .orderBy("chrom")
    )
