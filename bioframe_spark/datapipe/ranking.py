"""Lexical retrieval scoring over the corpus — BM25 and TF-IDF.

The training-data use case: score every document against a fixed query
(a topic probe, a quality template, a decontamination target) and keep /
bucket / down-sample by relevance. Everything is JVM-side expressions;
the only Python is driver-side query tokenization.

100 TB design
-------------
One corpus scan projects ``(id, doc_len, matching-term explode)``; the
array is pre-filtered to the query's terms BEFORE the explode, so the
exploded row count is bounded by ``n_docs * n_query_terms`` (not corpus
token count). Term document-frequencies are a ≤ ``n_query_terms``-row
aggregate joined back via broadcast. Corpus stats (N, avgdl) are one
2-scalar aggregate job. Net: one narrow shuffle on ``(id, term)`` whose
width is the query length — the plan scales with the scan.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..core.construction import local_df
from ..core.persist import owns, persist

TOKEN_SPLIT_RE = "[^a-z0-9]+"


def _query_terms(query: str) -> list[str]:
    """Driver-side tokenization — the same rule the corpus side applies
    (lowercase, split on non-alphanumeric runs), deduplicated in first-
    seen order so a repeated query word doesn't double-count its score.
    """
    seen: dict[str, None] = {}
    for t in re.split(TOKEN_SPLIT_RE, query.lower()):
        if t:
            seen.setdefault(t, None)
    return list(seen)


def _doc_tokens(text_col: str):
    toks = F.split(F.lower(F.col(text_col)), TOKEN_SPLIT_RE)
    return F.filter(toks, lambda x: x != F.lit(""))


def _term_frequencies(df: DataFrame, terms: list[str], id_col: str,
                      text_col: str) -> DataFrame:
    """(id, __dl, __tok, tf) for query terms only — the array is filtered
    to the query vocabulary before the explode, so the exploded row count
    is bounded by len(terms) per document, not the document length."""
    toks = _doc_tokens(text_col)
    term_arr = F.array(*[F.lit(t) for t in terms])
    matching = F.filter(toks, lambda x: F.array_contains(term_arr, x))
    d0 = df.select(
        F.col(id_col).alias("__id"),
        F.size(toks).alias("__dl"),
        F.explode(matching).alias("__tok"),
    )
    return d0.groupBy("__id", "__dl", "__tok").agg(F.count("*").alias("tf"))


def bm25_scores(df: DataFrame, query: str, *, id_col: str = "doc_id",
                text_col: str = "text", k1: float = 1.2, b: float = 0.75,
                top_n: int | None = None,
                score_decimals: int | None = 6) -> DataFrame:
    """Okapi BM25 score of every document containing ≥1 query term.

    idf follows the Lucene/BM25+ form ``ln(1 + (N - df + 0.5)/(df + 0.5))``
    (never negative, so a term in >50% of documents degrades gracefully
    instead of penalizing). ``score_decimals`` rounds the final sum —
    per-term scores are bit-identical across engines but their addition
    order is not; rounding pins a reproducible value (None = raw double).

    Returns (id_col, score) — ordered by nothing (top_n applies a global
    sort + limit when set: fine, the scored set is small after the
    query-term filter).
    """
    terms = _query_terms(query)
    if not terms:
        return df.select(F.col(id_col), F.lit(0.0).alias("score")).limit(0)
    # a single-file corpus arrives as ONE partition and serializes the
    # tokenize+explode and the stats partials onto one core (no-op on a
    # well-split scan)
    from ..operators.ops import _spread_if_underpartitioned
    df = _spread_if_underpartitioned(df.select(id_col, text_col))
    tf = _term_frequencies(df, terms, id_col, text_col)

    # corpus stats: one 2-scalar aggregate over a map-only projection.
    # avgdl guards null text explicitly: under spark.sql.ansi.enabled=false
    # size(NULL) is -1 (legacy sizeOfNull), which would silently skew every
    # score; the when() makes the null contribute nothing in ANY config.
    toks = _doc_tokens(text_col)
    n_docs, avgdl = df.select(
        F.count("*"),
        F.avg(F.when(F.col(text_col).isNotNull(), F.size(toks)))).first()
    avgdl = float(avgdl or 0.0) or 1.0

    # per-term document frequency: ≤ len(terms) rows -> broadcast back
    dft = tf.groupBy("__tok").agg(F.count("*").alias("__dft"))
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("__dft")
                              + F.lit(0.5)) / (F.col("__dft") + F.lit(0.5)))
    per_term = (idf * (F.col("tf") * F.lit(k1 + 1.0))
                / (F.col("tf") + F.lit(k1) * (F.lit(1.0 - b)
                   + F.lit(b) * F.col("__dl") / F.lit(avgdl))))
    scored = (tf.join(F.broadcast(dft), "__tok")
                .groupBy("__id").agg(F.sum(per_term).alias("score")))
    score = (F.round(F.col("score"), score_decimals)
             if score_decimals is not None else F.col("score"))
    out = scored.select(F.col("__id").alias(id_col), score.alias("score"))
    if top_n is not None:
        out = out.orderBy(F.col("score").desc(), F.col(id_col)).limit(top_n)
    return out


def tfidf_scores(df: DataFrame, query: str, *, id_col: str = "doc_id",
                 text_col: str = "text",
                 score_decimals: int | None = 6) -> DataFrame:
    """Classic ltc-style TF-IDF relevance: sum over query terms of
    ``(1 + ln(tf)) * ln(N / df)``. Same plan shape as :func:`bm25_scores`
    (pre-filtered explode, broadcast term stats, one narrow shuffle)."""
    terms = _query_terms(query)
    if not terms:
        return df.select(F.col(id_col), F.lit(0.0).alias("score")).limit(0)
    from ..operators.ops import _spread_if_underpartitioned
    df = _spread_if_underpartitioned(df.select(id_col, text_col))
    tf = _term_frequencies(df, terms, id_col, text_col)
    n_docs = df.count()
    dft = tf.groupBy("__tok").agg(F.count("*").alias("__dft"))
    per_term = ((F.lit(1.0) + F.log(F.col("tf").cast("double")))
                * F.log(F.lit(float(n_docs)) / F.col("__dft")))
    scored = (tf.join(F.broadcast(dft), "__tok")
                .groupBy("__id").agg(F.sum(per_term).alias("score")))
    score = (F.round(F.col("score"), score_decimals)
             if score_decimals is not None else F.col("score"))
    return scored.select(F.col("__id").alias(id_col), score.alias("score"))


def vocab_topk(df: DataFrame, n: int = 100, *, text_col: str = "text") -> DataFrame:
    """Corpus vocabulary: the ``n`` most frequent tokens with counts,
    ties broken by token (ascending) so the cut is deterministic.

    The tokenizer-building primitive: explode is map-only, the count is
    one hash aggregate with map-side partial combine (the shuffle
    carries DISTINCT tokens per partition, not the token stream), and
    the top-n compiles to TakeOrderedAndProject — per-partition heaps +
    a driver merge of n rows, never a global sort of the vocabulary.
    """
    from ..operators.ops import _spread_if_underpartitioned
    t = (_spread_if_underpartitioned(df.select(text_col))
         .select(F.explode(_doc_tokens(text_col)).alias("token")))
    counts = t.groupBy("token").agg(F.count("*").alias("cnt"))
    return counts.orderBy(F.col("cnt").desc(), F.col("token")).limit(n)


def token_pair_counts(df: DataFrame, n: int = 100, *,
                      text_col: str = "text") -> DataFrame:
    """The ``n`` most frequent ADJACENT token pairs with counts, ties
    broken by pair (ascending) — the BPE merge-candidate primitive: a
    tokenizer-training loop is "count adjacent pairs over the corpus,
    merge the winner, repeat", and the count step is the part that must
    scale to 100 TB (the merge bookkeeping is driver-sized).

    Same plan shape as :func:`vocab_topk`: the pair construction is a
    map-only HOF over token offsets (no self-join, no second explode),
    the count is one hash aggregate with map-side partial combine, and
    the top-n compiles to TakeOrderedAndProject (per-partition heaps +
    a driver merge of n rows). Null / sub-2-token docs contribute no
    pairs.
    """
    from ..operators.ops import _spread_if_underpartitioned

    toks = _doc_tokens(text_col)
    pair_arr = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.element_at(toks, i),
                                  F.element_at(toks, i + F.lit(1))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    t = (_spread_if_underpartitioned(df.select(text_col))
         .select(F.explode(pair_arr).alias("pair")))
    counts = t.groupBy("pair").agg(F.count("*").alias("cnt"))
    return counts.orderBy(F.col("cnt").desc(), F.col("pair")).limit(n)


def linear_text_score(df: DataFrame, weights: dict[str, float], *,
                      bias: float = 0.0, average: bool = False,
                      sigmoid: bool = False,
                      id_col: str = "doc_id", text_col: str = "text",
                      score_decimals: int | None = 6) -> DataFrame:
    """Linear bag-of-words classifier INFERENCE over the corpus — the
    fastText-style quality-classifier application pass (score every
    document with a trained linear model, then filter / bucket / sample
    by score): ``score = bias + Σ weights[token]`` over the document's
    tokens (token multiplicity counts), ``average=True`` divides by the
    token count (the fastText mean-of-features convention).

    Returns (id_col, score[, prob]) — one row per input document; null
    text keeps the corpus null-signal convention (null score), a doc
    with no weighted tokens scores ``bias``. ``sigmoid=True`` adds the
    logistic ``prob`` column.

    100 TB design: the weight table re-enters as a BROADCAST side (a
    classifier vocabulary is model-sized, not corpus-sized; a dict far
    past broadcast range belongs in a feature store, not a literal), so
    the only wide traffic is one (id, token) explode into a per-doc sum
    with map-side partial aggregation. No literal map in the plan — a
    100k-entry vocabulary as ``create_map`` would bloat every task's
    serialized plan; the broadcast relation ships once per executor.
    ``score_decimals`` pins engine-reproducible sums (same convention
    as :func:`bm25_scores`).
    """
    if not weights:
        raise ValueError("linear_text_score: empty weights")
    wdf = local_df(
        [(t, float(v)) for t, v in sorted(weights.items())],
        "token string, weight double")
    from ..operators.ops import _spread_if_underpartitioned
    toks = _doc_tokens(text_col)
    d = _spread_if_underpartitioned(df.select(id_col, text_col))
    # explode_outer keeps zero-token docs (token=null row); __n carries
    # the null-text signal through the aggregate
    base = d.select(
        F.col(id_col).alias("__id"),
        F.when(F.col(text_col).isNotNull(), F.size(toks)).alias("__n"),
        F.explode_outer(toks).alias("token"))
    summed = (base.join(F.broadcast(wdf), "token", "left")
              .groupBy("__id")
              .agg(F.max("__n").alias("__n"),
                   F.sum("weight").alias("__sw")))
    sw = F.coalesce(F.col("__sw"), F.lit(0.0))
    if average:
        # bias + mean token contribution (the bias is a model intercept,
        # never divided by document length)
        sw = F.when(F.col("__n") > 0, sw / F.col("__n")).otherwise(F.lit(0.0))
    raw = F.lit(float(bias)) + sw
    score = F.when(F.col("__n").isNull(), F.lit(None).cast("double")) \
             .otherwise(raw)
    if score_decimals is not None:
        score = F.round(score, score_decimals)
    out = summed.select(F.col("__id").alias(id_col), score.alias("score"))
    if sigmoid:
        out = out.withColumn(
            "prob", F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("score"))),
                            score_decimals or 9))
    return out


def _bigram_structs(text_col: str):
    """Array of (p, c) adjacent-token structs — empty for <2 tokens,
    NULL for null text (the when() propagates the null condition)."""
    toks = _doc_tokens(text_col)
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("p"),
                F.element_at(toks, i + F.lit(1)).alias("c")),
        ),
    ).otherwise(
        F.when(F.col(text_col).isNotNull(),
               F.array().cast("array<struct<p:string,c:string>>")))


def bigram_lm_scores(df: DataFrame, *, ref: DataFrame | None = None,
                     add_k: float = 0.5,
                     id_col: str = "doc_id", text_col: str = "text",
                     score_decimals: int | None = 6) -> DataFrame:
    """Per-document bigram language-model fluency score — the CCNet-
    style perplexity filter re-expressed without an external LM: train
    an add-k-smoothed bigram model on ``ref`` (default: the corpus
    itself) and score every document by its mean log-probability
    ``avg ln((c(prev,cur)+k) / (c(prev)+k·V))`` — higher = more fluent
    under the reference distribution; gibberish, boilerplate-free spam
    and wrong-language text score low. Returns (id_col, score, n_bigrams);
    docs with <2 tokens have no evidence → NULL score (and null text →
    NULL, the corpus convention).

    100 TB design: the model IS two aggregates over ``ref`` (unigram
    and bigram counts with map-side partial combine — the bigram table
    is reference-sized, NOT broadcast; it re-enters through shuffle
    joins keyed by the bigram/unigram, which is exactly what a
    distributed join is for). Scoring is one explode of the scored
    corpus joined against those counts and a per-doc average. V (vocab
    size) is the single scalar driver action.
    """
    ref = df if ref is None else ref
    k = float(add_k)
    if k <= 0:
        raise ValueError("add_k must be > 0 (unsmoothed zeros undefined)")

    rtoks = _doc_tokens(text_col)
    # the unigram table has two consumers, the V-scalar count and the
    # scoring join, so the join re-runs its explode+aggregate; a persist
    # of it did not pay on the ladder (SCALING §19, without/with: 1.03
    # at 1x, 0.89 at 4x), so there is none
    uni = (ref.select(F.explode(rtoks).alias("p"))
           .groupBy("p").agg(F.count("*").alias("__uc")))
    bi = (ref.select(F.explode(_bigram_structs(text_col)).alias("b"))
          .select("b.p", "b.c")
          .groupBy("p", "c").agg(F.count("*").alias("__bc")))
    n_vocab = uni.count()

    from ..operators.ops import _spread_if_underpartitioned
    d = _spread_if_underpartitioned(df.select(id_col, text_col))
    ex = d.select(
        F.col(id_col).alias("__id"),
        F.col(text_col).isNotNull().alias("__nn"),
        F.explode_outer(_bigram_structs(text_col)).alias("b"),
    ).select("__id", "__nn", F.col("b.p").alias("p"),
             F.col("b.c").alias("c"))
    lp = F.log((F.coalesce(F.col("__bc"), F.lit(0)) + F.lit(k))
               / (F.coalesce(F.col("__uc"), F.lit(0))
                  + F.lit(k * float(n_vocab))))
    scored = (ex.join(bi, ["p", "c"], "left")
                .join(uni, ["p"], "left")
                .groupBy("__id")
                .agg(F.avg(F.when(F.col("p").isNotNull(), lp))
                     .alias("score"),
                     # null text -> NULL counter (corpus convention);
                     # a real-but-short doc counts 0 bigrams
                     F.when(F.max("__nn"),
                            F.sum(F.when(F.col("p").isNotNull(), 1)
                                  .otherwise(0)))
                     .cast("long").alias("n_bigrams")))
    score = (F.round(F.col("score"), score_decimals)
             if score_decimals is not None else F.col("score"))
    return scored.select(F.col("__id").alias(id_col),
                         score.alias("score"), "n_bigrams")


@owns
def score_buckets(df: DataFrame, fractions: tuple = (1 / 3, 2 / 3), *,
                  score_col: str = "score",
                  bucket_col: str = "bucket",
                  cache: bool = True,
                  approx: bool = False,
                  approx_accuracy: int = 10000) -> DataFrame:
    """Quantile bucketing of a scored corpus — the CCNet head/middle/
    tail split generalized to any cut fractions: rows at or below the
    ``fractions[i]`` quantile of ``score_col`` land in bucket ``i``
    (0 = lowest scores), the rest in bucket ``len(fractions)``. NULL
    scores get a NULL bucket (no evidence is not a tail signal).

    100 TB design: thresholds come from ONE percentile aggregate (a
    single reduction, not a global sort) and re-enter as literals, so
    the assignment pass is MAP-ONLY: no global sort, no window over the
    corpus — the difference between this and ``ntile`` is the
    difference between a scan and a total order at 100 TB.

    TWO passes read the input (the threshold action + the returned
    assignment). ``cache=True`` (default) persists ``df`` before the
    threshold action so an expensive upstream (a scoring pipeline's
    explode + joins) runs ONCE — the multi-consumer re-execution hazard
    this repo's plan audit polices. The persist is released with the
    result, or at the end of an enclosing ``bioframe_spark.scope()``; an
    input the caller already cached is used as is and stays cached. Set
    ``cache=False`` when the input is a cheap raw scan: re-scanning
    parquet beats spilling a corpus-sized cache.

    Exact vs approximate thresholds: ``approx=False`` (default) uses
    Spark's exact ``percentile`` — linear-interpolation quantiles, the
    same lower+(upper-lower)·frac arithmetic DuckDB's quantile_cont
    uses, so the oracle is bit-exact and boundary rows bucket
    identically in both engines. BUT exact percentile buffers an
    OpenHashMap of every DISTINCT score value per partition and merges
    the maps onto one reducer — O(#distinct) memory, effectively
    unbounded for continuous high-cardinality scores (this family's
    6dp-rounded scores bound it at ≤ ~2·10⁷ keys per unit of score
    range; raw unrounded doubles do NOT). For effectively-continuous
    score domains set ``approx=True``: ``approx_percentile`` keeps a
    fixed-size sketch (error ≤ 1/``approx_accuracy`` in rank), making
    threshold memory corpus-independent — bucket boundaries may then
    differ from the exact split by up to that rank error.
    """
    fr = [float(f) for f in fractions]
    if not fr or any(not (0.0 < f < 1.0) for f in fr) or fr != sorted(fr):
        raise ValueError(
            "fractions must be strictly increasing values in (0, 1)")
    if cache:
        df = persist(df, StorageLevel.MEMORY_AND_DISK_DESER)
    frac_arr = F.array(*[F.lit(f) for f in fr])
    agg = (F.percentile_approx(F.col(score_col), frac_arr,
                               F.lit(int(approx_accuracy)))
           if approx else F.percentile(F.col(score_col), frac_arr))
    row = df.select(agg.alias("t")).first()
    ts = list(row["t"] or [])
    if not ts or any(t is None for t in ts):
        # empty / all-null corpus: nothing to threshold
        out = df.withColumn(bucket_col, F.lit(None).cast("int"))
    else:
        expr = F.lit(len(fr)).cast("int")
        for i in range(len(fr) - 1, -1, -1):
            expr = F.when(F.col(score_col) <= F.lit(ts[i]), F.lit(i)) \
                    .otherwise(expr)
        expr = F.when(F.col(score_col).isNull(),
                      F.lit(None).cast("int")).otherwise(expr)
        out = df.withColumn(bucket_col, expr.cast("int"))
    return out


def bm25_scores_many(df: DataFrame, queries: dict[str, str], *,
                     id_col: str = "doc_id", text_col: str = "text",
                     k1: float = 1.2, b: float = 0.75,
                     score_decimals: int | None = 6) -> DataFrame:
    """BM25 against a SET of named queries in ONE corpus pass — the
    decontamination / topic-probe shape (hundreds of probes over the
    same 100 TB corpus must not mean hundreds of scans).

    Returns (query_id, id_col, score), one row per (query, doc) with ≥1
    matching term. Token explode stays bounded by the UNION of all
    query vocabularies (array pre-filter before the generator, as in
    :func:`bm25_scores`); the query↔term map re-enters as a broadcast
    local relation, so the only fanout is per matching (doc, term) ×
    queries-containing-term; term document-frequencies are computed
    once at the term level (a corpus property, query-independent).
    """
    qterms = {q: _query_terms(text) for q, text in queries.items()}
    empty = sorted(q for q, ts in qterms.items() if not ts)
    if empty and len(empty) < len(qterms):
        # an all-empty query set returns a typed empty frame below; a
        # PARTIALLY-empty set would silently drop the empty queries from
        # the output (they contribute no qmap rows) — fail loudly instead
        # so callers joining on query_id don't lose queries without signal
        raise ValueError(
            f"bm25_scores_many: queries with no searchable terms: {empty}")
    vocab = sorted({t for ts in qterms.values() for t in ts})
    if not vocab:
        return (df.select(F.lit("").alias("query_id"), F.col(id_col),
                          F.lit(0.0).alias("score")).limit(0))
    from ..operators.ops import _spread_if_underpartitioned
    df = _spread_if_underpartitioned(df.select(id_col, text_col))
    tf = _term_frequencies(df, vocab, id_col, text_col)

    # null-text guard on avgdl: same ANSI-off size(NULL)=-1 hazard as in
    # bm25_scores — see the comment there.
    toks = _doc_tokens(text_col)
    n_docs, avgdl = df.select(
        F.count("*"),
        F.avg(F.when(F.col(text_col).isNotNull(), F.size(toks)))).first()
    avgdl = float(avgdl or 0.0) or 1.0

    dft = tf.groupBy("__tok").agg(F.count("*").alias("__dft"))
    qmap = local_df(
        [(q, t) for q, ts in qterms.items() for t in ts],
        "query_id string, __tok string")
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("__dft")
                              + F.lit(0.5)) / (F.col("__dft") + F.lit(0.5)))
    per_term = (idf * (F.col("tf") * F.lit(k1 + 1.0))
                / (F.col("tf") + F.lit(k1) * (F.lit(1.0 - b)
                   + F.lit(b) * F.col("__dl") / F.lit(avgdl))))
    scored = (tf.join(F.broadcast(dft), "__tok")
                .join(F.broadcast(qmap), "__tok")
                .groupBy("query_id", "__id")
                .agg(F.sum(per_term).alias("score")))
    score = (F.round(F.col("score"), score_decimals)
             if score_decimals is not None else F.col("score"))
    return scored.select("query_id", F.col("__id").alias(id_col),
                         score.alias("score"))
