"""Tokenizer training & application at corpus scale — the BPE family.

Byte-pair encoding (Sennrich, Haddow & Birch 2016, arXiv:1508.07909) as
production tokenizer pipelines actually run it: the 100 TB corpus
crosses Spark ONCE and collapses into a bounded word-frequency table
(pre-tokenized words follow a Zipf law, so a ``min_freq`` floor and a
``max_words`` cap retain ≥99.9% of token mass at a driver-sized
footprint — the same word-count-sketch shape HuggingFace tokenizers and
the original subword-nmt train from); the merge loop — inherently
sequential, each merge depends on the counts the previous one changed —
runs on that bounded table with incremental pair-count maintenance.
Encoding is the reverse deal: the learned merge table is vocab-sized,
broadcast into an Arrow-batched kernel, and the corpus is re-tokenized
map-only with a per-batch word→tokens memo (Zipf again: the memo hit
rate makes the amortized cost per word ~a dict lookup).

Pre-tokenization matches the rest of this package's text family
(:data:`~bioframe_spark.datapipe.ranking.TOKEN_SPLIT_RE`: lowercase,
split on non-alphanumeric runs), so ``word_frequencies`` /
``corpus_stats`` share the DuckDB oracle expressions the ranking family
already established. Words are sequences of ``[a-z0-9]`` characters
plus a terminal ``</w>`` marker symbol (the paper's end-of-word
convention) — the marker cannot collide with content.

No reference analog: bioframe has no text surface. This module is part
of the net-new LLM-training-data pipeline alongside
:mod:`~bioframe_spark.datapipe.ranking` and
:mod:`~bioframe_spark.datapipe.dedup`.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..core.construction import local_df
from .ranking import _doc_tokens

END_OF_WORD = "</w>"


def word_frequencies(df: DataFrame, *, text_col: str = "text",
                     min_freq: int = 1,
                     max_words: int | None = None) -> DataFrame:
    """Corpus word-frequency table: (word, freq), the tokenizer-training
    substrate. One map-only tokenize+explode, one hash aggregate with
    map-side partial combine (the shuffle carries distinct words per
    partition, not the token stream). ``min_freq`` floors the tail;
    ``max_words`` keeps the top-N by (freq desc, word asc) — with it set
    the cut compiles to TakeOrderedAndProject (per-partition heaps, no
    global sort of the vocabulary)."""
    from ..operators.ops import _spread_if_underpartitioned

    t = (_spread_if_underpartitioned(df.select(text_col))
         .select(F.explode(_doc_tokens(text_col)).alias("word")))
    counts = t.groupBy("word").agg(F.count("*").alias("freq"))
    if min_freq > 1:
        counts = counts.filter(F.col("freq") >= F.lit(int(min_freq)))
    if max_words is not None:
        counts = counts.orderBy(F.col("freq").desc(), "word") \
                       .limit(int(max_words))
    return counts


def _merge_word(syms: tuple, left: str, right: str) -> tuple:
    """Merge every non-overlapping (left, right) occurrence in ``syms``,
    left to right — the paper's replacement rule."""
    out = []
    i, n = 0, len(syms)
    while i < n:
        if i < n - 1 and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def _pair_stats(words, freqs):
    """pair -> (total freq, set of word indices containing it)."""
    counts: dict = {}
    where: dict = {}
    for wi, (syms, f) in enumerate(zip(words, freqs)):
        for a, b in zip(syms, syms[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + f
            where.setdefault((a, b), set()).add(wi)
    return counts, where


def _bpe_merge_loop(words: list, freqs: list, n_merges: int):
    """The sequential heart: pick the most frequent adjacent pair (ties
    to the lexicographically smallest pair — deterministic), merge it in
    the words that contain it, update the pair counts INCREMENTALLY
    (only affected words are re-scanned — the classic subword-nmt
    optimization; a full recount per merge would be O(n_merges · corpus
    symbols)).

    Best-pair selection is a lazy max-heap (r9): entries are pushed at
    every count increase and re-validated at pop time (a stale pop —
    heap value != current count — re-pushes at the current count), so
    each merge costs O(log #pairs) amortized instead of a full scan of
    the pair-count dict. Every pair's max live heap entry is >= its true
    count at all times, and ties pop in ascending pair order, so the pop
    sequence reproduces the scan's (max count, lexicographically
    smallest) choice exactly — differential-fuzzed against the scan in
    tests/test_round9.py. At a real tokenizer's 8k-32k merges the scan
    is O(n_merges · #pairs) driver time (~70 s at 8k merges on the sf0.1
    vocab); the heap makes it ~2 s."""
    import heapq

    counts, where = _pair_stats(words, freqs)
    heap = [(-c, p) for p, c in counts.items() if c > 0]
    heapq.heapify(heap)
    merges = []
    while len(merges) < n_merges and heap:
        negc, best = heapq.heappop(heap)
        cur = counts.get(best, 0)
        if cur != -negc:
            if cur > 0:  # stale entry: re-file at the true count
                heapq.heappush(heap, (-cur, best))
            continue
        merges.append(best)
        left, right = best
        grew: set = set()
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
                grew.add(pair)
            words[wi] = new
        counts.pop(best, None)
        where.pop(best, None)
        # one push per pair whose count grew this merge, at its
        # end-of-iteration value (pops only happen between iterations,
        # so the >=-true-count heap invariant holds where it matters)
        for pair in grew:
            c = counts.get(pair, 0)
            if c > 0:
                heapq.heappush(heap, (-c, pair))
    return merges


def bpe_train(df: DataFrame, n_merges: int = 100, *,
              text_col: str = "text", min_freq: int = 2,
              max_words: int = 1_000_000,
              end_of_word: str = END_OF_WORD) -> DataFrame:
    """Learn a BPE merge table from the corpus.

    Returns (rank, left, right): ``rank`` = merge priority (0 first).
    Deterministic: ties on pair frequency break to the smallest
    (left, right) pair, and the word table is a deterministic top-N.

    100 TB shape: ONE corpus pass (``word_frequencies`` with the
    ``min_freq`` floor and ``max_words`` cap) bounds the driver working
    set by construction — the merge loop itself is sequential by nature
    (merge k+1's counts depend on merge k) and runs on the collapsed
    word-frequency table, never on corpus rows. The collect is routed
    through the ``maxResultSize``-backstopped bounded collector. The
    driver gate records this op rows-only: an iterative algorithm is
    exactly the non-SQL-expressible case; value correctness is pinned by
    the published worked example + differential/property tests
    (tests/test_round8.py)."""
    if n_merges < 0:
        raise ValueError(f"n_merges must be >= 0, got {n_merges}")
    from ..operators.ops import _bounded_pdf

    wf = word_frequencies(df, text_col=text_col, min_freq=min_freq,
                          max_words=max_words)
    # bounded by construction (limit max_words); probe=False — probing
    # would run the word-count aggregate twice
    pdf = _bounded_pdf(wf, int(max_words), probe=False)
    if pdf is None:  # pragma: no cover — limit() makes this unreachable
        raise RuntimeError("word-frequency collect exceeded max_words")
    schema = "rank int, left string, right string"
    if not len(pdf):
        return local_df([], schema)
    words = [tuple(w) + (end_of_word,) for w in pdf["word"]]
    freqs = [int(f) for f in pdf["freq"]]
    merges = _bpe_merge_loop(words, freqs, int(n_merges))
    return local_df([(i, l, r) for i, (l, r) in enumerate(merges)], schema)


# words at/above this many symbols take the heap/linked-list encoder:
# the rescan encoder is O(L^2) in word length, the heap path O(L log L).
# Crossover micro-measured at ~20-32 symbols (SCALING §12-r09); below it
# the rescan's lower constant wins on the Zipf head.
_HEAP_ENCODE_MIN_SYMS = 24


def _encode_word(word: str, ranks: dict, end_of_word: str) -> list:
    """Greedy rank-order application (the standard BPE encoder): merge
    the lowest-rank applicable pair's occurrences, repeat until no
    learned pair remains. Reproduces training segmentation for words the
    trainer saw.

    Long words (>= :data:`_HEAP_ENCODE_MIN_SYMS` symbols) dispatch to
    the heap/linked-list form (r9): the rescan form re-walks the whole
    symbol list per applied merge — O(L^2), 5.4 s for ONE 32k-char word
    (a base64 blob / DNA run is one "word" under the alnum-run
    pre-tokenizer) vs 60 ms for the heap form at identical output
    (differential-fuzzed incl. adversarial rank tables,
    tests/test_round9.py)."""
    syms = list(word) + [end_of_word]
    if len(syms) >= _HEAP_ENCODE_MIN_SYMS:
        return _encode_word_heap(syms, ranks)
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


def _encode_word_heap(syms: list, ranks: dict) -> list:
    """Heap/linked-list BPE encoder — the standard O(L log L) form.

    Semantics are EXACTLY the rescan encoder's: repeatedly take the
    lowest-rank pair present and merge all its occurrences left-to-right
    (non-overlapping). The heap holds (rank, pair) lazily — an entry is
    pushed when a pair (re)appears; at pop time an empty occurrence set
    means stale. Merging pair p never creates a new occurrence of p
    itself (the merged symbol is left+right, and left+right == left or
    == right is impossible for non-empty symbols), so consuming p's
    occurrence set completes p's round exactly like one `_merge_word`
    pass; pairs created by the round enter the heap with their own
    ranks, reproducing the rescan's next-minimum choice."""
    import heapq

    n = len(syms)
    nxt = list(range(1, n)) + [-1]
    prv = [-1] + list(range(0, n - 1))
    alive = [True] * n
    occ: dict = {}
    heap: list = []
    for i in range(n - 1):
        p = (syms[i], syms[i + 1])
        r = ranks.get(p)
        if r is not None:
            s = occ.get(p)
            if s is None:
                occ[p] = {i}
                heapq.heappush(heap, (r, p))
            else:
                s.add(i)
    while heap:
        _, p = heapq.heappop(heap)
        s = occ.get(p)
        if not s:
            occ.pop(p, None)
            continue
        left, right = p
        for i in sorted(s):
            if not alive[i] or syms[i] != left:
                continue
            j = nxt[i]
            if j == -1 or syms[j] != right:
                continue
            h, k = prv[i], nxt[j]
            if h != -1:  # neighbor pair (syms[h], left) is now stale
                sq = occ.get((syms[h], left))
                if sq is not None:
                    sq.discard(h)
            if k != -1:  # neighbor pair (right, syms[k]) is now stale
                sq = occ.get((right, syms[k]))
                if sq is not None:
                    sq.discard(j)
            merged = left + right
            syms[i] = merged
            alive[j] = False
            nxt[i] = k
            if k != -1:
                prv[k] = i
            new_pairs = []
            if h != -1:
                new_pairs.append(((syms[h], merged), h))
            if k != -1:
                new_pairs.append(((merged, syms[k]), i))
            for q, pos in new_pairs:
                rq = ranks.get(q)
                if rq is None:
                    continue
                s2 = occ.get(q)
                if s2 is None:
                    occ[q] = {pos}
                    heapq.heappush(heap, (rq, q))
                else:
                    if not s2:  # consumed earlier: its heap entry is gone
                        heapq.heappush(heap, (rq, q))
                    s2.add(pos)
        occ.pop(p, None)
    return [syms[i] for i in range(n) if alive[i]]


def save_bpe(merges: DataFrame, path: str) -> None:
    """Persist a learned merge table — train once, encode forever
    (the same build-once contract as ``build_ivf_index`` /
    ``build_minhash_index``). ``bpe_encode`` accepts the path
    directly."""
    merges.orderBy("rank").coalesce(1).write.mode("overwrite") \
        .parquet(path)


def bpe_encode(df: DataFrame, merges, *, text_col: str = "text",
               id_col: str = "doc_id",
               end_of_word: str = END_OF_WORD) -> DataFrame:
    """Tokenize the corpus with a learned merge table.

    ``merges``: the (rank, left, right) DataFrame from :func:`bpe_train`,
    a path written by :func:`save_bpe`, or a rank-ordered list of
    (left, right) pairs. Returns
    (id_col, tokens ARRAY<STRING>, n_tokens LONG); null text keeps the
    corpus null-signal convention (null tokens, null count).

    100 TB shape: map-only. The merge table is vocab-sized — it enters
    the Arrow-batched kernel as a captured dict, never a join — and a
    per-batch word→tokens memo turns the Zipf head into dict lookups, so
    the encoder's amortized cost tracks DISTINCT words per batch, not
    token count."""
    import pandas as pd

    from pyspark.sql import types as T

    if isinstance(merges, str):
        merges = df.sparkSession.read.parquet(merges)
    if isinstance(merges, DataFrame):
        from ..operators.ops import _bounded_pdf, _threshold
        cap = _threshold(merges, "bpeMaxMerges", 1_000_000)
        mp = _bounded_pdf(merges.orderBy("rank"), cap, probe=False)
        if mp is None:
            raise ValueError(
                f"merge table exceeds {cap} rows "
                "(spark.bioframe.bpeMaxMerges) — not a vocab-sized input")
        pair_list = list(zip(mp["left"], mp["right"]))
    else:
        pair_list = [tuple(p) for p in merges]
    ranks = {p: i for i, p in enumerate(pair_list)}

    import re

    from .ranking import TOKEN_SPLIT_RE
    split_re = re.compile(TOKEN_SPLIT_RE)

    out_schema = T.StructType([
        T.StructField("__id", df.schema[id_col].dataType),
        T.StructField("tokens", T.ArrayType(T.StringType())),
        T.StructField("n_tokens", T.LongType()),
    ])
    sub = df.select(F.col(id_col).alias("__id"), F.col(text_col))

    def kern(batches):
        memo: dict = {}
        for pdf in batches:
            toks_col, n_col = [], []
            for txt in pdf[text_col]:
                if txt is None or (isinstance(txt, float) and pd.isna(txt)):
                    toks_col.append(None)
                    n_col.append(None)
                    continue
                toks: list = []
                for w in split_re.split(txt.lower()):
                    if not w:
                        continue
                    enc = memo.get(w)
                    if enc is None:
                        enc = _encode_word(w, ranks, end_of_word)
                        memo[w] = enc
                    toks.extend(enc)
                toks_col.append(toks)
                n_col.append(len(toks))
            yield pd.DataFrame({"__id": pdf["__id"], "tokens": toks_col,
                                "n_tokens": pd.array(n_col, dtype="Int64")})

    return sub.mapInPandas(kern, out_schema) \
              .withColumnRenamed("__id", id_col)


def corpus_stats(df: DataFrame, *, text_col: str = "text",
                 approx: bool = False, rsd: float = 0.05) -> DataFrame:
    """One-row corpus summary: ``n_docs`` (all rows), ``n_text``
    (non-null), ``n_tokens`` (total), ``n_distinct_tokens`` (vocabulary
    size), ``avg_doc_tokens`` (over non-null docs, 6 dp).

    Two aggregates over a column-pruned projection: the per-doc scalars
    are one streaming reduction; the vocabulary count is the expensive
    part — a distinct keyed by token. ``approx=True`` swaps the exact
    distinct (shuffle of the distinct token set) for
    ``approx_count_distinct`` (HyperLogLog++, relative error ``rsd``) —
    a fixed-size, map-side-combinable sketch, the 100 TB knob; exact
    stays default so the oracle is engine-portable."""
    toks = _doc_tokens(text_col)
    nn = F.col(text_col).isNotNull()
    scalars = df.select(
        F.count("*").alias("n_docs"),
        F.count(text_col).alias("n_text"),
        F.coalesce(F.sum(F.when(nn, F.size(toks))), F.lit(0))
         .cast("long").alias("n_tokens"),
    ).withColumn(
        # derived from the EXACT integer sums with one double division —
        # bit-identical across engines, unlike a streaming double avg
        # whose addition order differs
        "avg_doc_tokens",
        F.round(F.col("n_tokens") / F.col("n_text"), 6))
    tok = df.select(F.explode(toks).alias("t"))
    vocab = tok.agg(
        (F.approx_count_distinct("t", rsd) if approx
         else F.count_distinct("t")).alias("n_distinct_tokens"))
    return scalars.crossJoin(vocab).select(
        "n_docs", "n_text", "n_tokens", "n_distinct_tokens",
        "avg_doc_tokens")
