"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design: every method is a pure DataFrame pipeline whose shuffles are
keyed by hash/band/shingle — no driver-side loops, no quadratic all-pairs
stage. The only potentially-quadratic step (within-bucket pair expansion)
is bounded by bucket size, which LSH banding keeps small by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..core.construction import local_df
from ..core.persist import owns, persist
from .text import tokens


def _truncate_lineage(df: DataFrame) -> DataFrame:
    """Lineage truncation for iterative loops. Default: ``localCheckpoint``
    (executor-held blocks, no I/O). Its documented contract is that a lost
    executor loses the blocks AND the truncated lineage, failing the job —
    measured in ``tools/executor_loss_check.py``. For loss-tolerant runs,
    set a checkpoint dir (``sc.setCheckpointDir``) and
    ``spark.bioframe.reliableCheckpoint=true``: the loop then uses a
    RELIABLE ``checkpoint`` (same plan shape, blocks re-readable from the
    checkpoint store after any executor death)."""
    spark = df.sparkSession
    try:
        reliable = (spark.conf.get("spark.bioframe.reliableCheckpoint",
                                   "false") or "false").lower() == "true"
    except Exception:
        reliable = False
    if reliable:
        if not spark.sparkContext._jsc.sc().getCheckpointDir().isDefined():
            raise ValueError(
                "spark.bioframe.reliableCheckpoint=true requires a "
                "checkpoint dir: call spark.sparkContext.setCheckpointDir()")
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact-dup groups by content hash: one row per distinct text with the
    representative (min id) and the duplicate count. Hash-groupBy —
    map-side partial agg, one shuffle on the 128-bit digest."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def drop_exact_duplicates(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per distinct text."""
    w_min = exact_duplicates(df, text_col, id_col).select(
        F.col("rep_id").alias(id_col)
    )
    return df.join(w_min, id_col, "left_semi")


from ..operators.ops import _spread_if_underpartitioned  # noqa: E402
# (shared guard: map-only signature projections do all their hashing in
# the scan stage; see ops._spread_if_underpartitioned)


def shingle_array(text_col: Column, n: int = 3) -> Column:
    """Distinct n-gram word shingles of a document as ONE array column —
    a pure projection (JVM-side transform over token offsets), usable on
    batch and streaming frames alike."""
    toks = tokens(text_col)
    n_sh = F.size(toks) - (n - 1)
    # guard: Spark sequence(1, 0) counts DOWN — emit an empty array instead
    return F.when(n_sh < 1, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_sh),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        )
    )


def word_shingles(df: DataFrame, n: int = 3, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """(id, shingle) pairs: distinct n-gram word shingles per document.

    Spread-guarded: the explode runs in the scan stage, so an
    under-split scan would shingle the whole corpus on one task — and
    when the result is cached (ngram_jaccard_pairs), the cache would
    materialize single-partition and hand every consumer a one-task
    scan."""
    return _spread_if_underpartitioned(df).select(
        F.col(id_col),
        F.explode(shingle_array(F.col(text_col), n)).alias("shingle"),
    )


@owns
def ngram_jaccard_pairs(df: DataFrame, n: int = 3, threshold: float = 0.5,
                        text_col: str = "text", id_col: str = "doc_id",
                        cache: bool | str = "auto",
                        max_doc_freq: int | None = None,
                        hash_shingles: bool = False,
                        df_strategy: str = "agg") -> DataFrame:
    """Exact n-gram Jaccard similar pairs (id1 < id2).

    shingle-inverted-index self-join: explode → join on shingle → count
    common shingles per pair → join per-doc shingle counts → filter
    ``inter/union >= threshold``. The shingle join key is high-cardinality,
    so the shuffle is well-distributed; hot shingles (stopword n-grams) are
    the skew risk — AQE skew-join splits them.
    Output: id1, id2, n_common, n_union (integers — engine-exact).

    ``cache``: the shingle table has THREE consumers (two self-join sides
    + the per-doc counts); caching it trades executor memory for a 3×
    explode recompute (~2× wall locally). Default ``"auto"`` caches only
    while the INPUT is small (``spark.bioframe.shingleCacheBytes``,
    64 MB) — at 100 TB pinning an exploded ≫input-size frame is worse
    than recomputing. The cache is released with the result, or at the
    end of an enclosing ``bioframe_spark.scope()`` (see
    ``core/persist.py``).

    ``hash_shingles``: replace the shingle STRING join key (tens of
    bytes per exploded row, shuffled three ways) with its ``xxhash64``
    — an 8-byte long. Per-doc shingle counts are exact unless two
    distinct shingles of the SAME document collide in 64 bits
    (~n_sh²/2⁶⁵ per doc); a CROSS-document collision (doc1's shingle X
    = doc2's different shingle Y, ~n1·n2/2⁶⁴ per pair) can also inflate
    ``n_common`` by one — both vanishingly rare, so Jaccard is exact
    with overwhelming probability. The knob for 100 TB corpora; off by
    default so the oracle-checked queries stay bit-exact portable.

    ``df_strategy`` (only with ``max_doc_freq``): "agg" (default) takes
    the document frequency with an EAGER map-side-combinable aggregate
    over the hashed key and re-enters the hot list as a literal InSet
    filter — partial aggregation means a boilerplate-grade hot shingle
    never concentrates raw rows on one task. "window" computes df as
    ``count(*)`` over the shingle partition INSIDE the one exchange the
    self-join already pays — the explode runs ONCE and every consumer
    (both join sides and the per-doc counts) replays shuffle files via
    ReusedExchange instead of recomputing, so no cache is needed; the
    cost is that a hot shingle's rows all land on one window task
    before the cutoff drops them (no AQE rescue for windows). Same
    tradeoff pair as duplicate_spans' strategy knob; value-identical.

    Plan shape (r10, guide §2.3/§2.4; DEFAULT path — ``max_doc_freq``
    None): per-doc shingle counts are the SIZE of the (distinct)
    shingle array — a map-side projection of the document row, not an
    aggregation of the exploded table — and they RIDE each exploded row
    through the self-join into the pair aggregation's grouping key
    (n1/n2 are functionally dependent on id1/id2, so the groups are
    identical). That removes the per-doc counts shuffle AND the two
    joins that re-attached n1/n2 to the pair table — at corpus scale
    those joins re-shuffled the QUADRATIC pair output twice more (by
    id1, then id2); now the only pair-sized exchange left is the
    intersection count's own, map-side-combined one. Cost: +4 bytes
    (one int) per exploded row through the shingle exchange. Every
    ``max_doc_freq`` variant keeps the aggregated-counts formulation:
    cutoff counts depend on rows dropped after the explode, and the
    pre-explode equivalent (a higher-order array filter over the hot
    set) is an interpreted per-element pass that measured no better.
    Large hot lists re-enter as a broadcast anti-join against the
    collected rows rather than a literal InSet (above
    ``spark.bioframe.hotInSetMax``, 1024): a 26k-literal In expression
    measured 17 s of pure driver plan-construction at sf0.1.
    """
    if df_strategy not in ("agg", "window"):
        raise ValueError(f"df_strategy must be 'agg' or 'window', got "
                         f"{df_strategy!r}")
    window_cut = max_doc_freq is not None and df_strategy == "window"
    if cache == "auto" and window_cut:
        # the single-exchange formulation replaces the cache: consumers
        # replay shuffle files, not the explode
        cache = False
    if max_doc_freq is None:
        # counts-ride formulation (see docstring): n_sh = array size,
        # computed map-side and carried through the join. Rebuilt from
        # the array form of the same shingle set word_shingles explodes.
        base = _spread_if_underpartitioned(df).select(
            F.col(id_col), shingle_array(F.col(text_col), n).alias("__arr"))
        # stacked select: __arr is consumed twice (size + passthrough),
        # so CollapseProject leaves the chain in its own projection —
        # split→transform→array_distinct evaluates ONCE per document
        tbl = base.select(F.col(id_col), F.size("__arr").alias("__n_sh"),
                          F.col("__arr"))
        if cache == "auto":
            # the cache is the MATERIALIZATION BARRIER for the shingle
            # chain: without it each join side re-derives it from the
            # raw text (and the inferred size(arr)>0 filter under the
            # Generate pays the chain once more — PushDownPredicates
            # substitutes the alias through any Project/Repartition, so
            # no projection point can hold it). The ARRAY-form table is
            # cached, not the exploded rows: the chain runs once into
            # the cache, each join side pays only its own cheap explode
            # of the stored arrays. Same plan-size gate as before: at
            # 100 TB pinning a corpus-sized frame loses to recomputing,
            # and the big-input join is a shingle-keyed SMJ whose two
            # canonically-identical sides share one exchange anyway.
            from ..operators.ops import _plan_size_bytes, _threshold
            cache = _plan_size_bytes(df) <= _threshold(
                df, "shingleCacheBytes", 64 << 20)
        if cache:
            tbl = persist(tbl, StorageLevel.MEMORY_AND_DISK_DESER)
        sh = tbl.select(F.col(id_col), "__n_sh",
                        F.explode("__arr").alias("shingle"))
        if hash_shingles:
            sh = sh.withColumn("shingle", F.xxhash64(F.col("shingle")))
        a = sh.select(F.col(id_col).alias("id1"),
                      F.col("__n_sh").alias("n1"), "shingle")
        b = sh.select(F.col(id_col).alias("id2"),
                      F.col("__n_sh").alias("n2"), "shingle")
        out = (
            a.join(b, "shingle")
            .filter(F.col("id1") < F.col("id2"))
            # n1/n2 are functions of id1/id2 — identical groups, and the
            # partial aggregate still collapses map-side
            .groupBy("id1", "id2", "n1", "n2")
            .agg(F.count(F.lit(1)).alias("n_common"))
            # long arithmetic like the old counts (ANSI overflow safety)
            .withColumn("n_union", F.col("n1").cast("long")
                        + F.col("n2") - F.col("n_common"))
            # integer-form threshold test: inter/union >= t <=> inter >= t*union
            .filter(F.col("n_common").cast("double")
                    >= F.lit(threshold) * F.col("n_union"))
            .select("id1", "id2", "n_common", "n_union")
        )
        return out
    # aggregated-counts formulation: every max_doc_freq variant (eager
    # InSet / window / lazy anti-join) — see the docstring's r10 note
    sh = word_shingles(df, n=n, text_col=text_col, id_col=id_col)
    if hash_shingles:
        sh = sh.withColumn("shingle", F.xxhash64(F.col("shingle")))
    if window_cut:
        # the explicit isnotnull matches the filter the inner join
        # pushes into ITS subtrees — without it the per-doc counts
        # consumer's exchange differs by exactly that filter and the
        # explode runs twice instead of once (measured in the plan)
        wsp = Window.partitionBy("shingle")
        sh = (sh.filter(F.col("shingle").isNotNull())
                .withColumn("__df", F.count(F.lit(1)).over(wsp))
                .filter(F.col("__df") <= max_doc_freq)
                .drop("__df"))
    else:
        # 100 TB skew guard: a stopword shingle occurring in d documents
        # contributes d^2 join candidates — one hot key can dominate the
        # whole stage. Drop shingles with document frequency > cutoff
        # BEFORE everything (join sides AND per-doc counts): the result
        # is exact Jaccard over the informative-shingle space — the
        # standard IR df-cutoff. A shingle that common carries ~no
        # similarity signal; identical documents still score 1.0.
        #
        # The hot list is materialized ONCE to the driver and re-enters
        # the plan as a LITERAL local relation: left lazy, the df-agg
        # (a full shuffle of the exploded table) sat under the anti-join
        # inside EVERY consumer's subtree and re-executed per consumer —
        # the 64x datapipe rung measured 65.6 s with the cutoff vs
        # 28.5 s without it while removing ZERO rows (exponent 1.31 vs
        # 0.99). Hot shingles are few by construction (the cutoff
        # targets stopword n-grams); the collect is hard-capped and
        # falls back to the lazy join formulation over the cap. This
        # makes the cutoff path driver-EAGER (one agg job) — same
        # contract as the other kernel gates.
        from ..operators.ops import (_SMALL_INPUT_MAX_ROWS, _bounded_pdf,
                                     _threshold)
        # df is computed on the 8-BYTE HASH of the shingle even when the
        # pipeline keeps string shingles: the cutoff decision only needs
        # key identity, and the df-agg is a full shuffle of the exploded
        # table — longs cut its shuffle bytes ~4x vs n-gram strings (the
        # residual 64x exponent lived in exactly this pass). A cold
        # shingle colliding with a hot hash (~n_hot/2^64 per shingle) is
        # dropped with it — same vanishing-probability caveat as
        # hash_shingles, harmless for a skew guard.
        key = (F.col("shingle") if hash_shingles
               else F.xxhash64(F.col("shingle")))
        hot = (sh.select(key.alias("__k"))
               .groupBy("__k").agg(F.count(F.lit(1)).alias("__df"))
               .filter(F.col("__df") > max_doc_freq)
               .select("__k"))
        cap = _threshold(df, "smallInputMaxRows", _SMALL_INPUT_MAX_ROWS)
        # probe=False: the hot frame is a filtered aggregate — probing
        # would execute the whole df-shuffle twice just to count an
        # output that is small by construction; the collect stays
        # bounded by maxResultSize + the post-hoc row check
        hot_pdf = _bounded_pdf(hot, cap, probe=False)
        # r10: the literal InSet only below spark.bioframe.hotInSetMax
        # keys. A big hot list as an In(...) expression is a DRIVER
        # bomb: the analyzer/optimizer re-walk every literal child each
        # rule pass — measured 17 s of plan construction for the 26,530
        # hot keys that sf0.1 produces at max_doc_freq=3 (the df-agg
        # job itself is 3 s). Over the bar the collected list re-enters
        # as a LOCAL relation + broadcast anti-join instead: still no
        # re-execution of the df-agg subtree (the r6 hazard the literal
        # was built to avoid — the join side is the driver-collected
        # rows, not the lazy aggregate), same dropped-key set, and the
        # broadcast hash probe replaces the 26k-literal expression.
        inset_max = _threshold(df, "hotInSetMax", 1024)
        if hot_pdf is None:
            # implausibly many hot keys: keep the lazy formulation
            sh = sh.join(F.broadcast(hot), key == F.col("__k"), "left_anti")
        elif len(hot_pdf) > inset_max:
            hot_local = local_df(hot_pdf, hot.schema)
            sh = sh.join(F.broadcast(hot_local), key == F.col("__k"),
                         "left_anti")
        elif len(hot_pdf):
            # literal hot SET -> a pure scan-stage filter (InSet above
            # 10 items), no join in the plan at all
            sh = sh.filter(~key.isin([int(v) for v in hot_pdf["__k"]]))
        # empty hot list: nothing to drop, skip the filter entirely
    if cache == "auto":
        from ..operators.ops import _plan_size_bytes, _threshold
        cache = _plan_size_bytes(df) <= _threshold(
            df, "shingleCacheBytes", 64 << 20)
    if cache:
        sh = persist(sh, StorageLevel.MEMORY_AND_DISK_DESER)
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id1"), "shingle")
    b = sh.select(F.col(id_col).alias("id2"), "shingle")
    if window_cut:
        # force SMJ so a statically-planned broadcast build side can't
        # bypass the shared exchange (same guard as span_dup_pairs)
        b = b.hint("merge")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    c1 = counts.select(F.col(id_col).alias("id1"), F.col("n_sh").alias("n1"))
    c2 = counts.select(F.col(id_col).alias("id2"), F.col("n_sh").alias("n2"))
    out = (
        common.join(c1, "id1").join(c2, "id2")
        .withColumn("n_union", F.col("n1") + F.col("n2") - F.col("n_common"))
        # integer-form threshold test: inter/union >= t  <=>  inter >= t*union
        .filter(F.col("n_common").cast("double") >= F.lit(threshold) * F.col("n_union"))
        .select("id1", "id2", "n_common", "n_union")
    )
    return out


def _seeded_hash(col: Column, seed: int, hash_fn: str) -> Column:
    """Seeded 64-bit string hash. ``xxhash64`` (default): JVM codegen,
    fastest. ``md5``: 60-bit int from the md5 hex prefix — slower but
    bit-identical in any engine with md5 (DuckDB: ``('0x' ||
    substring(md5(s || '#' || seed), 1, 15))::BIGINT``), which makes the
    probabilistic dedup operators exactly oracle-checkable."""
    if hash_fn == "xxhash64":
        return F.xxhash64(col, F.lit(seed))
    if hash_fn == "md5":
        return F.conv(
            F.substring(F.md5(F.concat(col, F.lit(f"#{seed}"))), 1, 15), 16, 10
        ).cast("long")
    raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")


# universal-hash family over a Mersenne-prime field: h_i = (a_i*h + b_i) % M
# from ONE base hash h — one md5 per shingle instead of num_hashes of them
# (measured 8× on the bench); every step is int64-safe (a_i, h < 2^31).
_UHASH_M = 2_147_483_647  # 2^31 - 1

def _uhash_params(i: int) -> tuple[int, int]:
    a = ((2 * i + 1) * 2_654_435_761) % _UHASH_M  # odd × Knuth constant
    b = (i * 40_503 + 12_345) % _UHASH_M
    return a, b


def _md5_base31(col: Column) -> Column:
    """31-bit base hash from md5 (engine-portable: DuckDB
    ``('0x' || substring(md5(s), 1, 15))::BIGINT % 2147483647``)."""
    return (
        F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
        % F.lit(_UHASH_M)
    )


def minhash_signatures(df: DataFrame, num_hashes: int = 32, n: int = 3,
                       text_col: str = "text", id_col: str = "doc_id",
                       hash_fn: str = "xxhash64") -> DataFrame:
    """MinHash signature per doc: for seed i, min over shingles of
    hash(shingle, i). MAP-ONLY — the shingle set stays an array column
    and each signature slot is an ``array_min`` over a per-seed
    ``transform``, so there is no explode and NO SHUFFLE at all (and the
    projection is streaming-safe: see
    ``streaming.stream_near_dup_pairs``). Docs with no shingles (< n
    tokens) emit no signature row, matching the old explode+groupBy
    formulation."""
    # no-shingle docs (< n tokens, or null text) are excluded by a RAW
    # token-count predicate BEFORE the spread repartition — deliberately:
    # a filter phrased on the derived hash array (size(__h) > 0) is
    # deterministic, so Catalyst pushes it below the repartition and the
    # entire shingle+hash expression tree gets evaluated in the
    # single-task scan stage to decide row survival — serializing all
    # the hashing the spread guard exists to parallelize (measured:
    # 1.9 s -> 0.4 s for the signature projection at sf0.1). The token
    # count is equivalent (n_shingles = n_tokens - (n-1)) and cheap in
    # the scan stage, where pushdown correctly wants it.
    df = df.filter(F.size(tokens(F.col(text_col))) >= F.lit(n))
    df = _spread_if_underpartitioned(df)
    arr = shingle_array(F.col(text_col), n)
    if hash_fn == "md5":
        # hash each shingle ONCE into a named intermediate (an alias
        # referenced 32× is not collapsed into the consumers), then the
        # 31-bit universal family fans out over the cheap int column
        base = df.select(F.col(id_col),
                         F.transform(arr, lambda s: _md5_base31(s))
                         .alias("__h"))

        # factory closures: a default-arg lambda (h, _a=a, _b=b) reads as
        # a 3-parameter HOF lambda to PySpark's arity introspection, and a
        # 2-parameter one silently binds the ELEMENT INDEX to the second

        def _uh(a, b):
            return lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(_UHASH_M)

        slots = [F.array_min(F.transform(F.col("__h"), _uh(*_uhash_params(i))))
                 for i in range(num_hashes)]
        src = F.col("__h")
    elif hash_fn == "xxhash64":
        base = df.select(F.col(id_col), arr.alias("__sh"))

        def _xx(i):
            return lambda s: F.xxhash64(s, F.lit(i))

        slots = [F.array_min(F.transform(F.col("__sh"), _xx(i)))
                 for i in range(num_hashes)]
        src = F.col("__sh")
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    del src  # row survival already decided by the raw token-count filter
    return base.select(F.col(id_col), F.array(*slots).alias("signature"))


def _banded_minhash(df: DataFrame, num_hashes: int, bands: int, n: int,
                    text_col: str, id_col: str, hash_fn: str):
    """(signature frame, banded frame) — the shared LSH substrate of the
    self-join pair miner and the persisted-index family.

    Bucket key per band: the concatenated band slice, hashed to a
    fixed-width long in xxhash64 mode; left as the raw string in md5
    mode (equally valid LSH bucketing, and trivially engine-portable).
    The band index is exploded FIRST and the bucket computed from the
    band COLUMN in one parameterized expression: spelling out one
    bucket expression per band re-references `signature` bands× inside
    a single projection, and Catalyst's projection collapse then
    re-derives the whole signature tree (shingling + seeded hashing)
    once per reference — measured 2.0 s -> 0.4 s for the banded frame
    at sf0.1."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, num_hashes=num_hashes, n=n,
                             text_col=text_col, id_col=id_col,
                             hash_fn=hash_fn)
    band_key = F.concat_ws(
        ",",
        F.transform(
            F.slice(F.col("signature"),
                    F.col("band") * rows_per_band + F.lit(1),
                    F.lit(rows_per_band)),
            lambda x: x.cast("string"),
        ),
    )
    banded = sig.select(
        id_col, "signature",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
    ).withColumn(
        "bucket",
        F.xxhash64(band_key) if hash_fn == "xxhash64" else band_key,
    )
    return sig, banded


def minhash_lsh_pairs(df: DataFrame, num_hashes: int = 32, bands: int = 8,
                      n: int = 3, threshold: float = 0.5,
                      text_col: str = "text", id_col: str = "doc_id",
                      hash_fn: str = "xxhash64",
                      rejoin_signatures: bool = False) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs, verified by signature
    similarity (id1 < id2, est_jaccard = matching minhashes / num_hashes).

    shingle→minhash→band→bucket-join: docs sharing any band bucket become
    candidates; candidate generation is a self-join on (band, bucket-hash)
    — linear in bucket sizes, never all-pairs. The estimate column is a
    ratio of small ints (engine-exact).

    ``rejoin_signatures`` trades stages for shuffle bytes: False
    (default, right at bench scale) carries both signature arrays
    through the bucket join and scores in-flight; True keeps the bucket
    join NARROW (ids + band + bucket only — ~10× fewer bytes per banded
    row than a 32-slot array), dedups candidate id-pairs, then joins the
    per-doc signature table back twice to score survivors. At 100 TB
    corpus sizes the banded table is ``bands×`` the corpus and the
    candidate set is far smaller, so two extra candidate-sized joins
    beat shipping ``2·num_hashes`` longs per banded row. Both modes are
    value-identical (equivalence-tested).
    """
    sig, banded = _banded_minhash(df, num_hashes, bands, n,
                                  text_col, id_col, hash_fn)
    match = F.size(
        F.filter(
            F.zip_with("sig1", "sig2", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    passes = (F.col("n_match").cast("double")
              >= F.lit(threshold) * F.lit(num_hashes))
    if rejoin_signatures:
        a = banded.select(F.col(id_col).alias("id1"), "band", "bucket")
        b = banded.select(F.col(id_col).alias("id2"), "band", "bucket")
        cands = (
            a.join(b, ["band", "bucket"])
            .filter(F.col("id1") < F.col("id2"))
            .select("id1", "id2")
            .distinct()
        )
        s1 = sig.select(F.col(id_col).alias("id1"),
                        F.col("signature").alias("sig1"))
        s2 = sig.select(F.col(id_col).alias("id2"),
                        F.col("signature").alias("sig2"))
        return (
            cands.join(s1, "id1").join(s2, "id2")
            .withColumn("n_match", match)
            .filter(passes)
            .select("id1", "id2", "n_match")
        )
    a = banded.select(F.col(id_col).alias("id1"), F.col("signature").alias("sig1"),
                      "band", "bucket")
    b = banded.select(F.col(id_col).alias("id2"), F.col("signature").alias("sig2"),
                      "band", "bucket")
    # score and threshold BEFORE the dedup distinct: a pair sharing k
    # bands is scored k times (cheap integer compare of two in-memory
    # arrays), but the distinct shuffle then carries only
    # (id1, id2, n_match) — three small ints — instead of two
    # num_hashes-long signature arrays per surviving candidate row.
    # r9 NOTE: the simhash-style kept-once rewrite (drop the distinct,
    # keep each pair at its first equal band, tested in flight on the
    # signature slices) was implemented and ladder-measured here in two
    # variants (array-slice compare; element-wise compare) — BOTH lost
    # to the distinct at the 4x/16x rungs (2.53/7.72 s distinct vs
    # 3.6-4.0/8.7-9.3 s kept-once): unlike simhash, whose slice test is
    # two bit-ops on one long, a minhash band test compares
    # rows_per_band hash values per band per collision row, which costs
    # more than deduping the narrow surviving rows. Measured, rejected;
    # see OPTIMIZATION_r09.md.
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id1") < F.col("id2"))
        .withColumn("n_match", match)
        .filter(F.col("n_match").cast("double") >= F.lit(threshold) * F.lit(num_hashes))
        .select("id1", "id2", "n_match")
        .distinct()
    )


def build_minhash_index(df: DataFrame, path: str, *, num_hashes: int = 32,
                        bands: int = 8, n: int = 3,
                        text_col: str = "text", id_col: str = "doc_id",
                        hash_fn: str = "xxhash64") -> None:
    """Persist a MinHash-LSH index of the corpus: ``{path}/banded``
    holds the banded signature table (id, signature, band, bucket),
    ``{path}/meta`` the LSH parameters (probes validate against them —
    signatures from mismatched parameters would silently never match).

    The incremental-corpus primitive: a 100 TB corpus' TEXT is shingled
    and hashed ONCE; every future crawl increment probes (and appends
    to) the compact signature table — ``bands`` rows of
    (id, 8·num_hashes B signature, long, long) per doc, orders of
    magnitude smaller than the text — instead of re-mining the corpus
    per batch (:func:`minhash_lsh_pairs` re-derives both sides every
    run). Partitioned by ``band`` on disk: a reduced-band probe (recall
    dial) prunes whole partitions at the scan."""
    sig, banded = _banded_minhash(df, num_hashes, bands, n,
                                  text_col, id_col, hash_fn)
    del sig
    out = _size_banded_write(banded.withColumnRenamed(id_col, "__iid"),
                             df, bands)
    out.write.mode("overwrite").partitionBy("band") \
        .parquet(f"{path}/banded")
    local_df(
        [(int(num_hashes), int(bands), int(n), hash_fn)],
        "num_hashes int, bands int, n int, hash_fn string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def _minhash_index_meta(spark, path: str):
    m = spark.read.parquet(f"{path}/meta").first()
    if m is None:  # pragma: no cover
        raise ValueError(f"no meta record under {path}/meta")
    return m


def update_minhash_index(new_docs: DataFrame, path: str, *,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> None:
    """Append a new batch's banded signatures to an existing index
    (parameters read from the stored meta, so the append can never
    diverge from the build). Id-collision policy is the caller's:
    probe first, append only the kept docs (the standard
    probe → filter → append increment loop)."""
    m = _minhash_index_meta(new_docs.sparkSession, path)
    _, banded = _banded_minhash(new_docs, m.num_hashes, m.bands, m.n,
                                text_col, id_col, m.hash_fn)
    out = _size_banded_write(banded.withColumnRenamed(id_col, "__iid"),
                             new_docs, m.bands)
    out.write.mode("append").partitionBy("band") \
        .parquet(f"{path}/banded")


def _size_banded_write(banded: DataFrame, source: DataFrame,
                       bands: int, target_file_bytes: int = 128 << 20
                       ) -> DataFrame:
    """Size the banded write to the data, not the shuffle default: an
    un-repartitioned append emits (shuffle tasks × bands) files — ~128
    per 100-doc increment, the accretion the §12-r09b soak measured.
    Targets ceil(source_bytes / 128 MiB) files per band (the source
    TEXT size upper-bounds total signature bytes for docs past a few
    hundred chars, and a crawl batch under that is tiny anyway), keyed
    (band, salt). The repartition is HASH-based, so distinct (band,
    salt) groups can collide into one partition (and leave others
    empty): per-band file counts are only APPROXIMATELY the
    ceil(bytes/target) goal — close enough for the small-file
    pathology this exists to prevent, and exactness would cost a
    range partitioning. Signature COMPUTE parallelism is untouched — it runs in
    the map stage before this exchange. Unknown size estimate (e.g. a
    createDataFrame-backed LogicalRDD reports Long.MaxValue) → leave
    the plan's own partitioning; storage-backed batches — the
    production increment shape — estimate from file sizes."""
    import math

    from ..operators.ops import _plan_size_bytes

    est = _plan_size_bytes(source)
    if est >= (1 << 50):  # unknown
        return banded
    per_band = max(1, math.ceil(est / max(int(target_file_bytes), 1)))
    return banded.repartition(
        int(bands) * per_band, F.col("band"),
        F.pmod(F.xxhash64("__iid"), F.lit(per_band)))


def _hadoop_fs(spark, path: str):
    """(FileSystem, Path) for any Hadoop-supported URI."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _list_data_files(fs, p):
    """(n_files, total_bytes) over data files under p (recursive,
    _SUCCESS/_committed markers excluded)."""
    it = fs.listFiles(p, True)
    n = b = 0
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        n += 1
        b += st.getLen()
    return n, b


def minhash_index_stats(spark, path: str) -> dict:
    """File count / bytes of the banded signature table — the
    maintenance signal :func:`compact_minhash_index` acts on."""
    fs, p = _hadoop_fs(spark, f"{path}/banded")
    n, b = _list_data_files(fs, p)
    return {"n_files": n, "bytes": b}


def compact_minhash_index(spark, path: str, *,
                          target_file_bytes: int = 128 << 20) -> dict:
    """Rewrite the banded signature table into size-targeted files.

    :func:`update_minhash_index` appends one file set per band per
    increment, so a long-running crawl loop accretes small files
    (N increments × bands data files) and every probe pays a
    footer-read + task per file. Compaction reads the banded table
    once, rewrites it at ``ceil(band_bytes / target_file_bytes)``
    files per band (≥1), and swaps the rewrite in with two FS renames
    (``banded`` → ``banded.old`` → delete). Values are untouched — the
    probe result set is bit-identical before and after (tested +
    soak-verified, SCALING §12-r09b).

    Maintenance contract: single-writer, like the build — run it
    between increments, not concurrently with an append or an active
    probe (the rename swap is not transactional on stores without
    atomic rename). Crash before the first rename leaves the index
    untouched (stale ``banded.compacting`` is overwritten next run);
    between the renames, ``banded.old`` still holds the full table.
    Returns ``{files_before, files_after, bytes}``."""
    import math

    m = _minhash_index_meta(spark, path)
    base = f"{path}/banded"
    fs, p = _hadoop_fs(spark, base)
    files_before, total_bytes = _list_data_files(fs, p)
    per_band = max(1, math.ceil(
        total_bytes / max(int(m.bands), 1) / max(int(target_file_bytes), 1)))
    df = spark.read.parquet(base)
    # band is a partition column: repartition on (band, salt) — hash
    # partitioning, so per-band file counts only APPROXIMATE per_band
    # (groups can collide into one task); good enough for compaction
    df = df.repartition(
        int(m.bands) * per_band, F.col("band"),
        F.pmod(F.xxhash64("__iid"), F.lit(per_band)))
    tmp = f"{base}.compacting"
    df.write.mode("overwrite").partitionBy("band").parquet(tmp)
    jvm = spark._jvm
    old = jvm.org.apache.hadoop.fs.Path(f"{base}.old")
    if fs.exists(old):
        fs.delete(old, True)
    if not fs.rename(p, old):  # pragma: no cover - FS-specific failure
        raise IOError(f"compact_minhash_index: could not move {base} aside")
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), p):
        fs.rename(old, p)  # pragma: no cover - restore, then fail loudly
        raise IOError(f"compact_minhash_index: could not swap in {tmp}")
    fs.delete(old, True)
    files_after, _ = _list_data_files(fs, p)
    return {"files_before": files_before, "files_after": files_after,
            "bytes": total_bytes}


def minhash_lsh_probe(new_docs: DataFrame, path: str, *,
                      threshold: float = 0.5, text_col: str = "text",
                      id_col: str = "doc_id",
                      exclude_same_id: bool = True,
                      broadcast_new: bool | None = None) -> DataFrame:
    """Near-duplicates of a NEW batch against a persisted
    :func:`build_minhash_index` — (id_new, id_indexed, n_match), one row
    per (new doc, indexed doc) with estimated Jaccard ≥ ``threshold``
    (``n_match / num_hashes``, same verification rule as
    :func:`minhash_lsh_pairs`).

    Scale shape: the new side (a crawl increment) is typically tiny
    against the index — its banded frame broadcasts
    (``broadcast_new=None`` auto-decides from Catalyst's size estimate ×
    bands, same policy as ``ivf_topk_indexed``), so the probe is ONE
    scan of the banded index with a map-side hash join: no shuffle of
    the index, no re-shingling of corpus text. A corpus-sized new batch
    must NOT be force-broadcast — pass ``broadcast_new=False`` and the
    probe degrades to the shuffle join it would need anyway. Scoring
    happens in-flight on the joined signature arrays and the distinct
    carries only (id_new, id_indexed, n_match), the same
    score-before-distinct shuffle-bytes argument as the self-join miner.

    ``exclude_same_id``: drop id_new == id_indexed rows — the trivial
    self-matches when the batch was already appended to the index (or
    shares its id namespace)."""
    spark = new_docs.sparkSession
    m = _minhash_index_meta(spark, path)
    _, banded = _banded_minhash(new_docs, m.num_hashes, m.bands, m.n,
                                text_col, id_col, m.hash_fn)
    a = banded.select(F.col(id_col).alias("id_new"),
                      F.col("signature").alias("sig1"), "band", "bucket")
    stored = spark.read.parquet(f"{path}/banded")
    b = stored.select(F.col("__iid").alias("id_indexed"),
                      F.col("signature").alias("sig2"), "band", "bucket")
    if broadcast_new is None:
        from ..operators.ops import _plan_size_bytes
        from .similarity import _parse_bytes_conf
        bar = _parse_bytes_conf(
            spark, "spark.sql.autoBroadcastJoinThreshold", 10 << 20)
        broadcast_new = bar > 0 and \
            _plan_size_bytes(new_docs) * max(m.bands, 1) <= bar
    if broadcast_new:
        a = F.broadcast(a)
    match = F.size(
        F.filter(
            F.zip_with("sig1", "sig2", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    out = (
        a.join(b, ["band", "bucket"])
        .withColumn("n_match", match)
        .filter(F.col("n_match").cast("double")
                >= F.lit(threshold) * F.lit(m.num_hashes))
        .select("id_new", "id_indexed", "n_match")
        .distinct()
    )
    if exclude_same_id:
        out = out.filter(F.col("id_new") != F.col("id_indexed"))
    return out


def incremental_dedup(new_docs: DataFrame, path: str, *,
                      threshold: float = 0.5, text_col: str = "text",
                      id_col: str = "doc_id", within_batch: bool = True,
                      update: bool = True) -> DataFrame:
    """One increment of the crawl-dedup loop against a persisted
    :func:`build_minhash_index`: drop every new document that
    near-duplicates an INDEXED document (probe), resolve duplicates
    WITHIN the batch (the probe cannot see new-vs-new — min-id doc per
    duplicate component survives, same rule as
    :func:`drop_near_duplicates`), append the survivors' signatures to
    the index, and return the surviving rows (all original columns).

    The standard ingestion shape: corpus text is hashed once ever;
    each increment costs one probe scan of the compact signature table
    plus a batch-sized self-join — never a re-mine of the corpus
    (measured: probe ~flat across a 64× index growth, SCALING
    §12-r08). ``update=False`` = dry run (what WOULD survive).
    LSH parameters come from the stored meta, so every increment is
    automatically consistent with the build. With ``update=True`` the
    returned frame is a local checkpoint (it feeds both the index append
    and the caller), not a persist: Spark frees its blocks once the
    frame is garbage-collected, so no ``bioframe_spark.scope()`` is
    needed around it."""
    # exclude_same_id=False: inside the increment loop a same-id match
    # IS a duplicate — a re-submitted document must be rejected against
    # its own earlier index entry, not excused by sharing its id
    hits = minhash_lsh_probe(new_docs, path, threshold=threshold,
                             text_col=text_col, id_col=id_col,
                             exclude_same_id=False)
    matched = hits.select(F.col("id_new").alias(id_col)).distinct()
    kept = new_docs.join(matched, id_col, "left_anti")
    if within_batch:
        m = _minhash_index_meta(new_docs.sparkSession, path)
        pairs = minhash_lsh_pairs(kept, num_hashes=m.num_hashes,
                                  bands=m.bands, n=m.n,
                                  threshold=threshold,
                                  text_col=text_col, id_col=id_col,
                                  hash_fn=m.hash_fn)
        kept = drop_near_duplicates(kept, pairs, id_col=id_col)
    if update:
        # the survivors' plan READS {path}/banded and the append below
        # WRITES it — a self-invalidating lineage: any re-evaluation
        # after the append (cache eviction, a second action) would see
        # the survivors' own signatures, match every doc to itself
        # (exclude_same_id=False) and return empty. localCheckpoint
        # severs the lineage BEFORE the append; it also makes the
        # probe/self-join pipeline run exactly once for both consumers
        # (the append + the caller).
        kept = _truncate_lineage(kept)
        update_minhash_index(kept, path, text_col=text_col,
                             id_col=id_col)
    return kept


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 64, hash_fn: str = "xxhash64") -> DataFrame:
    """SimHash per doc from token hashes — bit-majority over
    hash(token). MAP-ONLY: distinct tokens stay an array column, each
    bit's majority vote is ``2·|{h : bit set}| > n`` over the hashed
    array (identical to the ±1 vote sum: sum = 2·count − n), so there is
    no explode and no shuffle; docs with no tokens emit no row (the old
    explode+groupBy behavior). ``hash_fn='md5'`` gives a 60-bit
    engine-portable hash (pass ``bits=60`` with it so every bit carries
    signal)."""
    # null-text exclusion phrased on the RAW column, before the spread
    # repartition: a size(__h) > 0 filter on the derived hash array gets
    # predicate-pushed below the repartition and evaluates the whole
    # token-hash tree in the single-task scan stage (see
    # minhash_signatures). split() of non-null text is never an empty
    # array, so isNotNull is the exact same row set.
    df = df.filter(F.col(text_col).isNotNull())
    df = _spread_if_underpartitioned(df)
    toks = F.array_distinct(tokens(F.col(text_col)))
    base = df.select(
        F.col(id_col),
        F.transform(
            toks,
            (lambda t: F.xxhash64(t)) if hash_fn == "xxhash64"
            else (lambda t: _seeded_hash(t, 0, hash_fn)),
        ).alias("__h"),
    )

    return base.select(id_col, _simhash_kernel(bits)(F.col("__h"))
                       .alias("simhash"))


def _simhash_kernel(bits: int):
    """Bit-majority vote over an array<long> of token hashes as one
    Arrow-vectorized kernel. The expression formulation (64 HOF
    ``filter`` passes, one per bit) materializes 64 filtered arrays per
    document — measured 3.4 s at sf0.1 vs ~0.3 s for this kernel. Math
    is bit-identical: per position i the vote is ``2*count(bit_i) > n``
    over the SAME hash values the JVM computed (arithmetic vs logical
    shift agree on any extracted bit below 64)."""
    import pandas as pd

    @F.pandas_udf("long")
    def _sig(hs):
        import numpy as np

        lens = np.fromiter((len(a) for a in hs), dtype="int64",
                           count=len(hs))
        out = np.zeros(len(hs), dtype="uint64")
        nz = lens > 0
        if nz.any():
            flat = (np.concatenate([np.asarray(a) for a in hs])
                    .astype("int64"))
            # bit j of value k at [k, j]: little-endian byte order makes
            # unpackbits(bitorder="little") index bits ascending — a
            # uint8 matrix (vs 8x for a shift-broadcast uint64 one)
            bitmat = np.unpackbits(
                flat.view("uint8").reshape(-1, 8), axis=1,
                bitorder="little")[:, :bits]
            offs = np.concatenate(([0], np.cumsum(lens)[:-1]))[nz]
            # reduceat folds each row-segment [offs[k], offs[k+1]);
            # zero-length segments were masked out above. int64 dtype:
            # uint8 accumulation would wrap at 256 tokens per doc.
            cnts = np.add.reduceat(bitmat, offs, axis=0, dtype="int64")
            votes = (cnts * 2) > lens[nz, None]
            shifts = np.arange(bits, dtype="uint64")
            out[nz] = (votes.astype("uint64") << shifts).sum(
                axis=1, dtype="uint64")
        return pd.Series(out.view("int64"))

    return _sig


@owns
def simhash_dup_pairs(df: DataFrame, max_hamming: int = 3,
                      text_col: str = "text", id_col: str = "doc_id",
                      bits: int = 64, hash_fn: str = "xxhash64",
                      cache="auto") -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Scale path: block on ``max_hamming + 1`` bit-slices of the 64-bit
    signature (pigeonhole: with ≤ max_hamming differing bits, at least one
    of max_hamming+1 slices is equal — full recall guarantee) → join per
    slice, dedup, then exact bit_count filter. Wider max_hamming means
    narrower slices and larger candidate buckets — the standard recall/cost
    dial of block-based SimHash dedup.

    ``cache``: the signature frame feeds BOTH self-join sides, and the
    slice-key exchanges do not canonicalize equal across the aliased
    sides, so without a cache the Arrow signature kernel (and the scan
    under it) runs twice — measured 1.76 s vs 1.04 s at sf0.1. The
    cached frame is tiny (~16 bytes/doc: id + one long), so the
    ``"auto"`` gate (input plan size ≤
    ``spark.bioframe.simhashCacheBytes``, 4 GB) is generous; it is
    released with the result or at the end of an enclosing
    ``bioframe_spark.scope()``, as in :func:`ngram_jaccard_pairs`.

    PRECONDITION: ``id_col`` values must be UNIQUE (the normal dedup
    contract — ids are document keys). The kept-once rule emits one row
    per (id1, id2) value combination whose signatures collide; with
    duplicated id values the historical trailing ``.distinct()``
    collapsed repeated (id1, id2, hamming) rows, so non-unique ids
    change the output multiplicity. Dedup ids upstream if unsure.
    """
    if not 0 <= max_hamming <= 31:
        # >31 → slices of <2 bits: blocking degenerates to all-pairs
        raise ValueError("max_hamming must be in [0, 31]")
    if cache == "auto":
        from ..operators.ops import _plan_size_bytes, _threshold
        cache = _plan_size_bytes(df) <= _threshold(
            df, "simhashCacheBytes", 4 << 30)
    n_chunks = max_hamming + 1
    bounds = [bits * i // n_chunks for i in range(n_chunks + 1)]

    def _slice_of(col: Column, lo: int, hi: int) -> Column:
        if hi - lo >= 64:
            return col
        mask = (1 << (hi - lo)) - 1
        return F.shiftrightunsigned(col, lo).bitwiseAND(F.lit(mask))

    def _slice(lo: int, hi: int):
        return _slice_of(F.col("simhash"), lo, hi)

    chunks_arr = F.array(*[
        F.struct(F.lit(i).alias("chunk_id"),
                 _slice(bounds[i], bounds[i + 1]).alias("chunk"))
        for i in range(n_chunks)
    ])
    sig = simhash(df, text_col=text_col, id_col=id_col, bits=bits,
                  hash_fn=hash_fn)
    if cache:
        sig = persist(sig, StorageLevel.MEMORY_AND_DISK_DESER)
    chunks = sig.select(
        id_col, "simhash", F.explode(chunks_arr).alias("c"),
    ).select(id_col, "simhash", "c.chunk_id", "c.chunk")
    a = chunks.select(F.col(id_col).alias("id1"), F.col("simhash").alias("sh1"),
                      "chunk_id", "chunk")
    b = chunks.select(F.col(id_col).alias("id2"), F.col("simhash").alias("sh2"),
                      "chunk_id", "chunk")
    # kept-once pair rule instead of a distinct (r9, guide §2.4): a pair
    # colliding in k slices appears k times, but BOTH signatures ride the
    # joined row, so "is this the pair's FIRST equal slice" is a map-side
    # predicate on sh1^sh2 — each surviving pair is kept exactly once at
    # its lowest equal slice, with no pair-sized dedup exchange (the old
    # distinct shuffled every surviving pair again; 7.3M rows at sf0.1).
    # Pigeonhole guarantees hamming <= max_hamming implies >= 1 equal
    # slice, so the kept row always exists — identical row set.
    xor = F.col("sh1").bitwiseXOR(F.col("sh2"))
    first_eq = F.lit(None).cast("int")
    for i in reversed(range(n_chunks)):
        first_eq = F.when(
            _slice_of(xor, bounds[i], bounds[i + 1]) == 0, F.lit(i)
        ).otherwise(first_eq)
    pairs = (
        a.join(b, ["chunk_id", "chunk"])
        .filter(F.col("id1") < F.col("id2"))
        .withColumn("hamming", F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2"))))
        .filter(F.col("hamming") <= max_hamming)
        .filter(F.col("chunk_id") == first_eq)
        .select("id1", "id2", "hamming")
    )
    return pairs


def _cc_local(edges: DataFrame) -> DataFrame:
    """Small-graph fast path: all edges into ONE task, union-find with
    path compression, labels = component min. Exact, one shuffle, no
    iteration — the right plan whenever the EDGE set (not the corpus)
    fits in a task, which for near-dup graphs is true far up the corpus
    scale (pairs are the post-LSH survivors, orders of magnitude smaller
    than the input)."""
    import pandas as pd

    out_schema = (
        "id " + edges.schema["u"].dataType.simpleString()
        + ", component " + edges.schema["u"].dataType.simpleString()
    )

    def kern(batches):
        parent = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for u, v in zip(pdf["u"].to_numpy(), pdf["v"].to_numpy()):
                parent.setdefault(u, u)
                parent.setdefault(v, v)
                ru, rv = find(u), find(v)
                if ru != rv:
                    parent[rv] = ru
        roots = {}
        for node in parent:
            r = find(node)
            m = roots.get(r)
            if m is None or node < m:
                roots[r] = node
        if parent:
            yield pd.DataFrame(
                {"id": list(parent), "component": [roots[find(n)] for n in parent]}
            )

    return edges.coalesce(1).mapInPandas(kern, out_schema)


def connected_components(pairs: DataFrame, src_col: str = "id1",
                         dst_col: str = "id2",
                         max_iter: int = 50,
                         strategy: str = "auto") -> DataFrame:
    """Connected components over a near-duplicate pair graph:
    ``(id, component)`` where component = the minimum node id in the
    node's component. Only nodes that appear in ``pairs`` are returned
    (singletons are their own trivial component and carry no information).

    Algorithm: min-label propagation ("hash-min" of Rastogi et al.,
    *Finding Connected Components in Map-Reduce in Logarithmic Rounds*,
    ICDE 2013) — every round each node takes the min of its own label and
    its neighbors' labels, so labels converge to the component min in
    O(graph diameter) rounds. Near-dup graphs are unions of dense
    clusters (diameter 2-3 in practice), so the loop exits after a
    handful of rounds; ``max_iter`` is a safety bound, not the expected
    cost.

    Scale shape: one symmetrized edge table persisted across rounds;
    each round is join(edges, labels) + groupBy-min — both shuffles keyed
    and sized by the edge table, never all-pairs. ``localCheckpoint``
    truncates the per-round lineage so the plan does not nest; on a real
    cluster with executor loss concerns, set a checkpoint dir and
    ``spark.bioframe.reliableCheckpoint=true`` to use a reliable
    ``checkpoint`` instead (same plan shape; a lost executor kills a
    localCheckpoint job but only re-reads files under the reliable one
    — measured in ``tools/executor_loss_check.py``). The convergence
    probe is a ``limit(1)`` existence job on the changed-label diff,
    not a full count.

    ``strategy='auto'`` (default) routes SMALL pair sets (≤
    ``spark.bioframe.ccLocalEdges`` rows, default 2M) to a single-task
    union-find — exact, one shuffle, no iteration. The decision keys on
    the EDGE table, not the corpus: near-dup pairs are the post-blocking
    survivors, so the fast path stays valid far up the corpus scale, and
    the iterative plan is the fallback exactly when edges themselves
    outgrow a task. Catalyst's size estimate is join-selectivity guesswork
    for a derived pair plan, so auto persists the pairs and COUNTS them —
    both paths consume the full pair table at least once anyway, so the
    decision costs one cached-scan job, and the cache is released as soon
    as the chosen path has materialized. ``'loop'``/``'local'`` force a
    path (the equivalence test runs both).
    """
    e = pairs.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    e_cached = False
    if strategy == "auto":
        from ..operators.ops import _threshold
        e = e.persist()
        e_cached = True
        n_edges = e.count()
        strategy = ("local" if n_edges <=
                    _threshold(e, "ccLocalEdges", 2_000_000) else "loop")
    if strategy == "local":
        if not e_cached:
            return _cc_local(e)
        out = _truncate_lineage(_cc_local(e))
        e.unpersist()
        return out
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))) \
           .distinct().persist()
    labels = (
        sym.select(F.col("u").alias("id")).distinct()
        .withColumn("label", F.col("id"))
    )
    try:
        for _ in range(max_iter):
            nmin = (
                sym.join(labels.select(F.col("id").alias("v"),
                                       F.col("label").alias("vlabel")), "v")
                .groupBy("u").agg(F.min("vlabel").alias("nmin"))
            )
            stepped = (
                labels.join(nmin.withColumnRenamed("u", "id"), "id", "left")
                .select(
                    "id", "label",
                    F.least(F.col("label"),
                            F.coalesce(F.col("nmin"), F.col("label")))
                    .alias("new_label"),
                )
                .transform(_truncate_lineage)
            )
            changed = stepped.filter(
                F.col("label") != F.col("new_label")
            ).limit(1).count()
            if e_cached:  # sym materialized in this round's jobs
                e.unpersist()
                e_cached = False
            labels = stepped.select("id", F.col("new_label").alias("label"))
            if changed == 0:
                break
    finally:
        sym.unpersist()
    return labels.select("id", F.col("label").alias("component"))


def drop_near_duplicates(df: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id", src_col: str = "id1",
                         dst_col: str = "id2") -> DataFrame:
    """Resolve a near-duplicate pair graph to one canonical doc per
    duplicate cluster: keep the minimum-id member of each connected
    component plus every document that appears in no pair. This is the
    standard last stage of a fuzzy-dedup pipeline (pairs → components →
    canonical pick); the anti-join side is one row per NON-canonical
    clustered doc — tiny relative to the corpus, so AQE broadcasts it.
    """
    comp = connected_components(pairs, src_col=src_col, dst_col=dst_col)
    losers = comp.filter(F.col("component") != F.col("id")) \
                 .select(F.col("id").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def ngram_contamination(corpus: DataFrame, eval_set: DataFrame, n: int = 8,
                        threshold: float = 0.1, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Benchmark decontamination: for each eval document, the fraction
    of its n-gram shingles that appear ANYWHERE in the training corpus
    (the standard long-n-gram overlap test — default n=8 words, flag at
    ≥10% contaminated shingles).

    Returns (eval id, n_shingles, n_contaminated, contamination,
    flagged).  Eval docs too short to form one n-gram report zero
    shingles and are never flagged.

    Scale shape: the CORPUS side reduces to its DISTINCT shingle set
    (one aggregation keyed by the high-cardinality shingle — map-side
    partial aggregation eats the duplication), the eval side is
    typically tiny; the containment join is a LEFT SEMI from eval
    shingles into the corpus set, so nothing fanout-sized ever
    materializes and corpus bytes stream through one shuffle.  No
    quadratic pair join: contamination is per-eval-doc containment, not
    doc-to-doc similarity (use ``ngram_jaccard_pairs`` to find WHICH
    corpus doc matches)."""
    ev = word_shingles(eval_set, n=n, text_col=text_col, id_col=id_col)
    corpus_sh = (
        word_shingles(corpus, n=n, text_col=text_col, id_col=id_col)
        .select("shingle").distinct()
    )
    hits = (
        ev.join(corpus_sh, "shingle", "left_semi")
        .groupBy(id_col).agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    totals = (
        eval_set.select(
            F.col(id_col),
            F.size(shingle_array(F.col(text_col), n)).cast("long")
            .alias("n_shingles"))
    )
    out = (
        totals.join(hits, id_col, "left")
        .withColumn("n_contaminated",
                    F.coalesce("n_contaminated", F.lit(0)).cast("long"))
        .withColumn(
            "contamination",
            # one correctly-rounded IEEE division — bit-identical in any
            # engine (deliberately NOT decimal-rounded: round-at-6 can
            # tie-break differently across engines)
            F.when(F.col("n_shingles") > 0,
                   F.col("n_contaminated") / F.col("n_shingles"))
            .otherwise(F.lit(0.0)))
        .withColumn("flagged",
                    (F.col("n_shingles") > 0)
                    & (F.col("contamination") >= threshold))
    )
    return out


# --------------------------------------------------------------------------
# exact-substring (repeated span) dedup — winnowed fingerprints
# --------------------------------------------------------------------------

def _gram_hash_array(t: Column, k: int) -> Column:
    """Array of md5 hex hashes of every character k-gram of ``t`` —
    positions 1..len-k+1. Shorter-than-k text → empty array; NULL text →
    NULL (the corpus-wide null-signal convention)."""
    grams = F.when(
        F.length(t) >= F.lit(k),
        F.transform(F.sequence(F.lit(1), F.length(t) - F.lit(k - 1)),
                    lambda p: F.md5(t.substr(p, F.lit(k)))))
    return grams.otherwise(
        F.when(t.isNotNull(), F.array().cast("array<string>")))


def _winnow_min(h: Column, w: int) -> Column:
    """Distinct window-of-``w`` minima of a gram-hash array.

    PERF: pass a BOUND COLUMN (an attribute from a previous select), not
    a raw expression — ``h`` is referenced from inside a per-window
    lambda, and an expression subtree there is re-evaluated PER WINDOW
    (measured 30x+ blowup), while an attribute is one row lookup.
    CollapseProject keeps the stage split: it never inlines a non-cheap
    expression referenced more than once."""
    return (
        # explicit NULL passthrough FIRST: under spark.sql.ansi.enabled=false
        # size(NULL) is -1, which would fall into the <w branch and turn null
        # text into [null] instead of NULL — pin the convention config-free
        F.when(h.isNull(), F.lit(None).cast("array<string>"))
        # fewer grams than one window: keep the single global min
        # (standard winnowing edge — every non-empty doc fingerprints)
        .when(F.size(h) == 0, h)
        .when(F.size(h) < F.lit(w), F.array(F.array_min(h)))
        .otherwise(F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.size(h) - F.lit(w - 1)),
            lambda i: F.array_min(F.slice(h, i, w)))))
    )


def _winnow_fingerprints_expr(df: DataFrame, k: int = 25, w: int = 16,
                              text_col: str = "text",
                              id_col: str = "doc_id") -> DataFrame:
    """Pure-expression winnowing — the differential-test REFERENCE for
    the Arrow kernel below, NOT the production path. Correct, but the
    optimizer makes it pathological downstream: ``InferFiltersFromGenerate``
    manufactures a ``size(fps) > 0`` filter under any explode of the
    result, and predicate pushdown substitutes it through both staged
    projections, re-inlining the gram-hash transform INSIDE the
    per-window slice lambda — measured 16x+ re-evaluation (67 s for 500
    docs where the kernel takes <1 s). Column staging can't prevent it:
    filter pushdown through a Project has no expression-cost guard."""
    staged = df.select(F.col(id_col).alias("__id"),
                       _gram_hash_array(F.col(text_col), k).alias("__H"))
    return staged.select(F.col("__id").alias(id_col),
                         _winnow_min(F.col("__H"), w).alias("fingerprints"))


def _make_winnow_doc(k: int, w: int, with_pos: bool = False,
                     hash: str = "md5"):
    """Per-document winnowing closure shared by the kernels below.

    ``with_pos=False``: sorted distinct selected hashes (the dedup-signal
    fingerprint set). ``with_pos=True``: sorted distinct ``(pos, hash)``
    pairs — the removal kernels need WHERE each fingerprint sits. Ties
    among equal window hashes select the RIGHTMOST position (robust
    winnowing's rule; the ``>=`` pop makes the deque keep the latest
    index), so the position set is deterministic.

    ``hash``: "md5" (default) — hex digests, engine-portable, the oracle
    convention; "xx64" — 64-bit polynomial rolling hash over code points
    with a splitmix64 finalizer, fully numpy-vectorized (the production
    knob: the md5 gram loop is the span family's measured linear floor,
    SCALING §12-r06c). Both are valid winnowing schemes (the shared-
    substring guarantee needs only a deterministic gram hash), but they
    select DIFFERENT window minima, so per-doc stats can differ at span
    boundaries — downstream dup/removal decisions are pinned consistent
    in tests, exact values are compared against the md5 oracle only."""
    import hashlib
    from collections import deque

    if hash not in ("md5", "xx64"):
        raise ValueError(f"hash must be 'md5' or 'xx64', got {hash!r}")
    if hash == "xx64":
        return _make_winnow_doc_xx64(k, w, with_pos)

    def winnow(txt: str) -> list:
        L = len(txt)
        if L < k:
            return []
        if txt.isascii():
            # one encode + byte slices == char slices for ASCII (~13%
            # off the gram loop); multi-byte text keeps char slicing so
            # gram boundaries match substr() semantics exactly
            enc = txt.encode("utf-8")
            H = [hashlib.md5(enc[p:p + k]).hexdigest()
                 for p in range(L - k + 1)]
        else:
            H = [hashlib.md5(txt[p:p + k].encode("utf-8")).hexdigest()
                 for p in range(L - k + 1)]
        if len(H) < w:
            if not with_pos:
                return [min(H)]
            m = min(H)
            # rightmost occurrence, consistent with the deque rule
            p = len(H) - 1 - H[::-1].index(m)
            return [(p, m)]
        # monotonic-deque sliding minimum: exact, O(m) amortized
        # (numpy can't reduce over fixed-width string dtypes)
        sel = set()
        dq: deque = deque()  # indices, H-values increasing
        for i, h in enumerate(H):
            while dq and H[dq[-1]] >= h:
                dq.pop()
            dq.append(i)
            if dq[0] <= i - w:
                dq.popleft()
            if i >= w - 1:
                sel.add((dq[0], H[dq[0]]) if with_pos else H[dq[0]])
        return sorted(sel)

    return winnow


def _winnow_hash_type(hash: str):
    """Spark type of a winnow fingerprint: md5 hex -> string, xx64 ->
    long (the signed view of the uint64 — equality, grouping and joins
    are what downstream uses, and those are bijection-invariant)."""
    from pyspark.sql import types as T

    if hash == "md5":
        return T.StringType()
    if hash == "xx64":
        return T.LongType()
    raise ValueError(f"hash must be 'md5' or 'xx64', got {hash!r}")


def _make_winnow_doc_xx64(k: int, w: int, with_pos: bool = False):
    """The ``hash="xx64"`` winnow closure: numpy end-to-end.

    Gram hashing is a polynomial rolling hash over CODE POINTS (utf-32
    decode, so gram boundaries match the md5 path's substr semantics for
    any script) in wrapping uint64 arithmetic — prefix sums + modular-
    inverse normalization give every k-gram hash in O(L) vectorized ops,
    vs the md5 path's O(L) Python-loop digest calls (the span family's
    measured linear floor). A splitmix64 finalizer fixes the polynomial
    hash's low-bit regularity before window minima are taken. The
    sliding minimum is a strided-view ``min(axis=1)`` (w ≤ ~64 keeps the
    O(m·w) vector pass cheaper than any Python-loop O(m) deque). Ties
    select the RIGHTMOST position via argmin over the reversed window —
    the same robust-winnowing rule as the md5 deque."""
    import numpy as np

    B = np.uint64(0x100000001B3)  # odd -> invertible mod 2^64
    BINV = np.uint64(pow(0x100000001B3, -1, 1 << 64))
    M1 = np.uint64(0xBF58476D1CE4E5B9)
    M2 = np.uint64(0x94D049BB133111EB)

    def gram_hashes(txt: str):
        cp = np.frombuffer(txt.encode("utf-32-le"),
                           dtype=np.uint32).astype(np.uint64)
        L = cp.size
        m = L - k + 1
        # bp[i] = B^i; weighted[j] = cp[j] * B^(L-1-j); S = prefix sums
        bp = np.ones(L, dtype=np.uint64)
        if L > 1:
            np.multiply.accumulate(np.full(L - 1, B, dtype=np.uint64),
                                   out=bp[1:])
        S = np.zeros(L + 1, dtype=np.uint64)
        np.cumsum(cp * bp[::-1], out=S[1:])
        # raw[p] = sum_{j=p}^{p+k-1} cp[j] B^(L-1-j); normalize to a
        # position-independent value by multiplying with Binv^(L-k-p)
        raw = S[k:k + m] - S[0:m]
        ip = np.ones(m, dtype=np.uint64)
        if m > 1:
            np.multiply.accumulate(np.full(m - 1, BINV, dtype=np.uint64),
                                   out=ip[1:])
        h = raw * ip[::-1]
        h = h ^ (h >> np.uint64(30)); h = h * M1
        h = h ^ (h >> np.uint64(27)); h = h * M2
        return h ^ (h >> np.uint64(31))

    def winnow(txt: str) -> list:
        if len(txt) < k:
            return []
        H = gram_hashes(txt)
        m = H.size
        if m < w:
            p = m - 1 - int(H[::-1].argmin())  # rightmost global min
            v = int(H[p].astype(np.int64))
            return [(p, v)] if with_pos else [v]
        V = np.lib.stride_tricks.sliding_window_view(H, w)
        if not with_pos:
            return np.unique(V.min(axis=1).astype(np.int64)).tolist()
        offs = np.uint64(w - 1) - V[:, ::-1].argmin(axis=1).astype(np.uint64)
        pos = (np.arange(m - w + 1, dtype=np.uint64) + offs).astype(np.int64)
        vals = V.min(axis=1).astype(np.int64)
        return sorted(set(zip(pos.tolist(), vals.tolist())))

    return winnow


def winnow_fingerprints(df: DataFrame, k: int = 25, w: int = 16,
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        hash: str = "md5") -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, MOSS —
    the "local algorithms" fingerprinting paper behind Stanford's code
    plagiarism detector).

    Character k-grams are hashed (md5 hex — identical and comparable in
    any engine); each sliding window of ``w`` consecutive gram hashes
    contributes its MINIMUM. The selection is content-aligned, so the
    winnowing guarantee holds: any substring of length ≥ ``k + w - 1``
    shared verbatim by two documents shares at least one fingerprint —
    unlike positional striding, which misses misaligned copies. Expected
    density ≈ 2/(w+1) fingerprints per character, i.e. the exploded row
    count is ~L/8 per doc at the defaults, not L.

    Returns ``(id_col, fingerprints array<string>)`` — fingerprints is
    the doc's DISTINCT selected hashes (sorted); NULL text → NULL;
    shorter-than-k text → empty. Implemented as an Arrow-batched
    mapInPandas kernel: map-only (no shuffle), vectorized sliding-min
    over fixed-width numpy string arrays, and — decisive — a hard
    optimizer barrier, which the expression formulation is not (see
    :func:`_winnow_fingerprints_expr` for the measured hazard). md5 is
    kept over xxhash64 because its hex form is engine-portable (the
    DuckDB oracle computes the identical value).
    """
    from pyspark.sql import types as T

    out_schema = T.StructType([
        df.schema[id_col],
        T.StructField("fingerprints", T.ArrayType(_winnow_hash_type(hash))),
    ])
    # a single-file corpus arrives as ONE partition and serializes the
    # gram-hash loop onto one core — round-robin only when under-split
    # (no-op on a well-split 100 TB scan)
    sub = _spread_if_underpartitioned(df.select(id_col, text_col))

    def gen(batches):
        import pandas as pd

        winnow = _make_winnow_doc(k, w, hash=hash)
        for pdf in batches:
            fps_out = [
                None if (txt is None
                         or (isinstance(txt, float) and pd.isna(txt)))
                else winnow(txt)
                for txt in pdf[text_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col],
                                "fingerprints": fps_out})

    return sub.mapInPandas(gen, out_schema)


@owns
def duplicate_spans(df: DataFrame, k: int = 25, w: int = 16,
                    min_docs: int = 2, text_col: str = "text",
                    id_col: str = "doc_id",
                    strategy: str = "window",
                    hash: str = "md5") -> DataFrame:
    """Per-document repeated-span statistics — the Spark re-expression of
    exact-substring training-data dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): find spans of ≥
    ``k + w - 1`` characters that recur verbatim across ≥ ``min_docs``
    distinct documents. The published method builds a corpus-wide suffix
    array — inherently single-machine; winnowed fingerprints give the
    same cross-document guarantee as a two-shuffle DataFrame plan.

    Returns ``(id_col, n_spans, n_dup_spans, dup_frac)`` — one row per
    input document. ``n_spans`` counts the doc's distinct fingerprints;
    ``n_dup_spans`` those shared with ≥ ``min_docs - 1`` OTHER documents;
    ``dup_frac`` their ratio (NULL when the doc is too short to
    fingerprint, mirroring the null-signal convention).

    Scale shape — the kernel runs EXACTLY ONCE at every scale: it emits
    PRE-EXPLODED rows ``(id, n_spans, fingerprint)`` (one per distinct
    doc fingerprint; fingerprint-less and null-text docs emit one
    null-fingerprint row), so downstream is a single linear chain — one
    window over the fingerprint (each doc contributes a fingerprint at
    most once, so ``count(*)`` over the partition IS the distinct-doc
    count) and one per-doc rollup. Two shuffles total, no self-join, no
    multi-consumer re-execution of the Python stage, no cache to manage.
    (The first formulation fed three consumers from the kernel; a
    plan-size-gated cache fixed it at bench scale but the gate flips off
    exactly where re-execution hurts most — the 16x ladder rung measured
    5x wall on 4x data. Single-consumer-chain is the fix, not caching.)
    ``strategy``: "window" (default) computes the distinct-doc count as
    ``count(*)`` over the fingerprint partition — one shuffle, but a
    corpus-HOT fingerprint (boilerplate shared by most documents) lands
    its whole partition on one task, and windows have no AQE skew
    rescue. "join" computes the same count as a map-side-combinable
    aggregate and LEFT-joins it back on the fingerprint — one extra
    shuffle stage, but the join is exactly what AQE's skew-join
    splitting handles, so hot keys spread across tasks. Value-identical
    (pinned by test); pick "join" for corpora with boilerplate-grade
    repetition (measured under the 90%-hot shape in SCALING §12-r06c).
    """
    if strategy not in ("window", "join"):
        raise ValueError(f"strategy must be 'window' or 'join', got "
                         f"{strategy!r}")
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("__id", df.schema[id_col].dataType),
        T.StructField("__n", T.LongType()),
        T.StructField("__h", _winnow_hash_type(hash)),
    ])
    sub = _spread_if_underpartitioned(df.select(id_col, text_col))

    def gen(batches):
        import pandas as pd

        winnow = _make_winnow_doc(k, w, hash=hash)
        for pdf in batches:
            ids, ns, hs = [], [], []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                if txt is None or (isinstance(txt, float) and pd.isna(txt)):
                    ids.append(did); ns.append(None); hs.append(None)
                    continue
                sel = winnow(txt)
                if not sel:
                    ids.append(did); ns.append(0); hs.append(None)
                    continue
                n = len(sel)
                for h in sel:
                    ids.append(did); ns.append(n); hs.append(h)
            yield pd.DataFrame({"__id": ids, "__n": ns, "__h": hs})

    ex = sub.mapInPandas(gen, out_schema)
    # each doc emits a fingerprint at most once -> count(*) keyed by the
    # fingerprint == distinct-doc count (null fingerprints are excluded
    # from dup-flagging below, their group is moot)
    if strategy == "join":
        # persist the emission: the stats aggregate and the join probe
        # side are two consumers, and exchange reuse cannot bridge an
        # agg/join pair (the agg's exchange carries partial rows) — the
        # kernel would execute twice (plan_audit catch, §12-r07d)
        ex = persist(ex, StorageLevel.MEMORY_AND_DISK_DESER)
        stats = ex.groupBy("__h").agg(F.count(F.lit(1)).alias("__nd"))
        # LEFT: null-fingerprint rows (short/null docs) never match but
        # must survive into the per-doc rollup
        flagged = ex.join(stats, "__h", "left")
    else:
        nd = F.count(F.lit(1)).over(Window.partitionBy("__h"))
        flagged = ex.withColumn("__nd", nd)
    out = (flagged.groupBy("__id")
           .agg(
               F.max("__n").cast("long").alias("n_spans"),
               F.sum(F.when(F.col("__h").isNotNull()
                            & (F.col("__nd") >= F.lit(min_docs)), 1)
                     .otherwise(0)).cast("long").alias("__dup")))
    out = out.select(
        F.col("__id").alias(id_col),
        "n_spans",
        F.when(F.col("n_spans").isNull(), F.lit(None))
         .otherwise(F.col("__dup")).cast("long").alias("n_dup_spans"))
    out = out.withColumn(
        "dup_frac",
        F.when(F.col("n_spans") > 0,
               F.round(F.col("n_dup_spans") / F.col("n_spans"), 9)))
    return out


def drop_duplicate_spans_docs(df: DataFrame, max_dup_frac: float = 0.5,
                              k: int = 25, w: int = 16,
                              text_col: str = "text",
                              id_col: str = "doc_id",
                              hash: str = "md5") -> DataFrame:
    """Filter wrapper: drop documents whose repeated-span fraction
    exceeds ``max_dup_frac`` (docs with no fingerprints pass — no
    evidence is not a removal signal)."""
    stats = duplicate_spans(df, k=k, w=w, text_col=text_col, id_col=id_col,
                            hash=hash)
    keep = stats.filter((F.col("dup_frac").isNull())
                        | (F.col("dup_frac") <= F.lit(max_dup_frac))) \
                .select(F.col(id_col))
    return df.join(keep, id_col, "left_semi")


@owns
def remove_duplicate_spans(df: DataFrame, k: int = 25, w: int = 16,
                           min_docs: int = 2, text_col: str = "text",
                           id_col: str = "doc_id",
                           hash: str = "md5",
                           strategy: str = "window") -> DataFrame:
    """CUT duplicated spans out of the corpus, keeping one canonical
    copy — the removal half of Lee et al. 2022's exact-substring dedup
    ("remove all but one occurrence of each duplicated substring").

    For every winnowed fingerprint occurring in ≥ ``min_docs`` distinct
    documents, the minimum-id document KEEPS its occurrences (the same
    canonical-pick convention as :func:`drop_near_duplicates`); every
    other document has the fingerprint's k-gram span ``[pos, pos+k)``
    cut. Adjacent/overlapping cut spans merge before cutting, and a long
    duplicated region carries selected grams every ≤ w positions, so the
    merged cut covers it end-to-end except up to ~k+w boundary chars per
    edge — the winnowing-granularity approximation of the suffix-array
    method (which this engine deliberately avoids: a corpus-wide suffix
    array is single-machine by construction).

    Returns ``(id_col, text_col, n_cut_spans, n_removed_chars)`` — one
    row per input document, text rewritten (NULL text passes through
    with NULL counters; untouched docs report 0/0).

    Scale shape — the position kernel runs EXACTLY ONCE (default
    ``strategy="window"``): its (id, hash, pos) emission crosses ONE
    exchange on the fingerprint, where two same-partitioning windows
    compute the distinct-doc count (a lag-based first-occurrence flag
    summed over the partition — window ``count_distinct`` doesn't
    exist) and the min-id keeper; the per-doc cut-list rollup (bounded
    by the doc's own gram density — never corpus-sized) and one shuffle
    of the corpus text into the Arrow cut kernel follow. (The first
    formulation aggregated stats and joined them back — the kernel
    executed once under the agg AND once under the join's probe side,
    the §12-r06c multi-consumer hazard again; caught by
    tools/plan_audit.py, pinned at one in test_plan_budgets.)
    ``strategy="join"`` keeps the aggregate+join shape — its stats join
    is AQE-skew-splittable where a corpus-hot fingerprint would pin the
    window variant's partition on one task — and PERSISTS the kernel
    emission so the two consumers share one execution (released with the
    result, or at the end of an enclosing ``bioframe_spark.scope()``).
    The corpus text moves through exactly one exchange in both modes.
    """
    if strategy not in ("window", "join"):
        raise ValueError(f"strategy must be 'window' or 'join', got "
                         f"{strategy!r}")
    from pyspark.sql import types as T

    pos_schema = T.StructType([
        T.StructField("__id", df.schema[id_col].dataType),
        T.StructField("__h", _winnow_hash_type(hash)),
        T.StructField("__pos", T.LongType()),
    ])
    sub = _spread_if_underpartitioned(df.select(id_col, text_col))

    def gen_pos(batches):
        import pandas as pd

        winnow = _make_winnow_doc(k, w, with_pos=True, hash=hash)
        for pdf in batches:
            ids, hs, ps = [], [], []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                if txt is None or (isinstance(txt, float) and pd.isna(txt)):
                    continue
                for p, h in winnow(txt):
                    ids.append(did); hs.append(h); ps.append(p)
            yield pd.DataFrame({"__id": ids, "__h": hs, "__pos": ps})

    ex = sub.mapInPandas(gen_pos, pos_schema)
    if strategy == "window":
        w_ord = Window.partitionBy("__h").orderBy("__id", "__pos")
        w_all = Window.partitionBy("__h")
        lagid = F.lag("__id").over(w_ord)
        annotated = (
            ex.withColumn("__new",
                          F.when(lagid.isNull()
                                 | (lagid != F.col("__id")), 1).otherwise(0))
              .withColumn("__nd", F.sum("__new").over(w_all))
              .withColumn("__keeper", F.min("__id").over(w_all)))
        cuts = (annotated
                .filter((F.col("__nd") >= F.lit(min_docs))
                        & (F.col("__id") != F.col("__keeper")))
                .groupBy("__id")
                .agg(F.collect_list("__pos").alias("__cuts")))
    else:
        ex = persist(ex, StorageLevel.MEMORY_AND_DISK_DESER)
        stats = (ex.groupBy("__h")
                   .agg(F.count_distinct("__id").alias("__nd"),
                        F.min("__id").alias("__keeper"))
                   .filter(F.col("__nd") >= F.lit(min_docs))
                   .select("__h", "__keeper"))
        cuts = (ex.join(stats, "__h")
                  .filter(F.col("__id") != F.col("__keeper"))
                  .groupBy("__id")
                  .agg(F.collect_list("__pos").alias("__cuts")))

    out_schema = T.StructType([
        df.schema[id_col], df.schema[text_col],
        T.StructField("n_cut_spans", T.LongType()),
        T.StructField("n_removed_chars", T.LongType()),
    ])
    joined = df.select(id_col, text_col).join(
        cuts.withColumnRenamed("__id", id_col), id_col, "left")

    def gen_cut(batches):
        import pandas as pd

        for pdf in batches:
            texts, nspans, nchars = [], [], []
            for txt, cut in zip(pdf[text_col], pdf["__cuts"]):
                if txt is None or (isinstance(txt, float) and pd.isna(txt)):
                    texts.append(None); nspans.append(None); nchars.append(None)
                    continue
                if cut is None or not len(cut):
                    texts.append(txt); nspans.append(0); nchars.append(0)
                    continue
                # merge [p, p+k) spans, then cut right-to-left
                spans = []
                for p in sorted(int(p) for p in cut):
                    if spans and p <= spans[-1][1]:
                        spans[-1][1] = max(spans[-1][1], p + k)
                    else:
                        spans.append([p, p + k])
                L = len(txt)
                removed = sum(min(e, L) - s for s, e in spans)
                kept = []
                prev = 0
                for s, e in spans:
                    kept.append(txt[prev:s])
                    prev = min(e, L)
                kept.append(txt[prev:])
                texts.append("".join(kept))
                nspans.append(len(spans)); nchars.append(removed)
            yield pd.DataFrame({id_col: pdf[id_col], text_col: texts,
                                "n_cut_spans": nspans,
                                "n_removed_chars": nchars})

    return joined.mapInPandas(gen_cut, out_schema)


def span_dup_pairs(df: DataFrame, k: int = 25, w: int = 16,
                   min_shared: int = 2, max_doc_freq: int = 1024,
                   text_col: str = "text",
                   id_col: str = "doc_id",
                   hash: str = "md5") -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowed span fingerprints
    — the MOSS detector shape: span-level signals rolled up to document
    granularity, ready for :func:`connected_components` /
    :func:`drop_near_duplicates` resolution (the same last stage the
    minhash/simhash pipelines feed).

    Output: (id1, id2, n_shared) with id1 < id2.

    Scale shape — the winnow kernel runs EXACTLY ONCE at every scale:
    it emits PRE-EXPLODED ``(id, fingerprint)`` rows (the inverted
    index, no array to re-explode), ONE exchange on the fingerprint
    feeds a window ``count(*)`` whose ``[2, max_doc_freq]`` filter is
    the df-cutoff BEFORE the self-join — a fingerprint in d documents
    contributes d² candidates, and boilerplate-grade fingerprints carry
    no pairing signal (the same df-cutoff argument as the jaccard
    hot-shingle guard, §12). Both self-join sides are the identical
    post-window subtree, already hash-partitioned on the fingerprint,
    so the planner inserts NO new exchange and the second side is a
    ReusedExchange over the first's shuffle files — the shuffle, not
    the Python stage, is what replays. (The first formulation fed the
    kernel to the df-aggregate, a semi-join, and both join sides — 4
    MapInPandas executions per query, the multi-consumer hazard of
    SCALING §12-r06c lesson 2; pinned at one in test_plan_budgets.)
    Then one pair-keyed count. Everything is keyed by fingerprint or
    pair — no corpus-sized broadcast, no driver loop.
    """
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("__id", df.schema[id_col].dataType),
        T.StructField("__h", _winnow_hash_type(hash)),
    ])
    sub = _spread_if_underpartitioned(df.select(id_col, text_col))

    def gen(batches):
        import pandas as pd

        winnow = _make_winnow_doc(k, w, hash=hash)
        for pdf in batches:
            ids, hs = [], []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                if txt is None or (isinstance(txt, float) and pd.isna(txt)):
                    continue
                for h in winnow(txt):
                    ids.append(did); hs.append(h)
            yield pd.DataFrame({"__id": ids, "__h": hs})

    ex = sub.mapInPandas(gen, out_schema)
    # each doc emits a fingerprint at most once -> count(*) over the
    # fingerprint partition IS the distinct-doc count
    nd = F.count(F.lit(1)).over(Window.partitionBy("__h"))
    sh = (ex.withColumn("__nd", nd)
            .filter((F.col("__nd") >= F.lit(2))
                    & (F.col("__nd") <= F.lit(max_doc_freq)))
            .select("__id", "__h"))
    a = sh.select(F.col("__id").alias("id1"), "__h")
    b = sh.select(F.col("__id").alias("id2"), "__h")
    # merge hint: a STATICALLY-planned broadcast side would bypass the
    # shared exchange and re-run the kernel for the build side (seen
    # with parquet-stats inputs); forcing SMJ at planning time keeps
    # both sides on the one exchange (ReusedExchange), and AQE is still
    # free to runtime-convert to broadcast FROM the reused shuffle files
    return (a.join(b.hint("merge"), "__h")
             .filter(F.col("id1") < F.col("id2"))
             .groupBy("id1", "id2")
             .agg(F.count(F.lit(1)).alias("n_shared"))
             .filter(F.col("n_shared") >= F.lit(min_shared)))
