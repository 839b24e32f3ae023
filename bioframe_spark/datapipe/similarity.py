"""Similarity search over embedding columns (``array<float>``).

Baseline: brute-force cosine top-k (broadcast queries × corpus — linear
scan, one shuffle for the top-k window). Scale path: LSH bucketing by
random-hyperplane signs (deterministic, seed-hashed) so the scan touches
only matching buckets.

Determinism note: embeddings are quantized to integers (round(x*Q)) before
dot products, so accumulation order cannot perturb results — the final
cosine is a single correctly-rounded double expression, bit-identical
across engines (this is what makes the DuckDB oracle hash-match).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..core.construction import local_df

QUANT = 1000


def _quantized(col, name):
    # cast to double BEFORE scaling: float*int arithmetic differs across
    # engines at round-half boundaries; double-first is engine-exact
    return F.transform(col, lambda x: F.round(x.cast("double") * QUANT).cast("long")).alias(name)


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v
    )


def _norm2(a):
    return F.aggregate(a, F.lit(0).cast("long"), lambda acc, v: acc + v * v)


def _parse_bytes_conf(spark, key: str, default: int) -> int:
    """Spark byte-string conf → int bytes ('10485760b', '100MB', '1g',
    bare ints all legal — Spark's own JavaUtils grammar, case-insensitive)."""
    import re as _re

    try:
        raw = str(spark.conf.get(key)).strip().lower()
        m = _re.fullmatch(r"(-?\d+)\s*([kmgtp]?)b?", raw)
        if not m:
            return default
        mult = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
                "t": 1 << 40, "p": 1 << 50}[m.group(2)]
        return int(m.group(1)) * mult
    except Exception:
        return default


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Plan: broadcast the (small) query set against the corpus — a
    broadcast-nested-loop scan that parallelizes over corpus partitions —
    then per-query top-k via row_number window. Self-pairs excluded.
    Output: query_id, neighbor_id, rank (rank by cosine desc, id asc).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    # Queries ship to every task as a captured numpy matrix (they must be
    # broadcast-sized — same contract as the previous F.broadcast plan).
    # Quantization runs through the SPARK expression so rounding stays
    # engine-exact; the scoring itself is a numpy int64 matmul per Arrow
    # batch (exact: dim*|v|^2*QUANT^2 << 2^63) with the identical
    # dot/(sqrt*sqrt) double chain — bit-equal to the Catalyst fold
    # formulation it replaces, which paid ~dim expression-interpreter
    # steps per candidate pair. The collect is HARD-bounded
    # (spark.bioframe.smallInputMaxRows; r6): an over-sized query set
    # fails with a clear redirect instead of an opaque driver overflow.
    from ..operators.ops import (_SMALL_INPUT_MAX_ROWS, _bounded_pdf,
                                 _threshold)
    cap = _threshold(queries, "smallInputMaxRows", _SMALL_INPUT_MAX_ROWS)
    qpdf = _bounded_pdf(
        queries.select(F.col(id_col).alias("query_id"),
                       _quantized(F.col(vec_col), "qv")), cap)
    if qpdf is None:
        raise ValueError(
            "cosine_topk query set exceeds spark.bioframe.smallInputMaxRows"
            f" ({cap}): the broadcast-query kernel needs a driver-sized "
            "query side — use lsh_bucketed_topk or ivf_topk/"
            "ivf_topk_indexed for large query sets")
    qids = qpdf["query_id"].to_numpy()
    Q = np.stack(qpdf["qv"].to_numpy()).astype(np.int64)
    qn = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))

    schema = T.StructType([
        T.StructField("query_id", queries.schema[id_col].dataType),
        T.StructField("neighbor_id", corpus.schema[id_col].dataType),
        T.StructField("cos", T.DoubleType()),
    ])

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["nid"].to_numpy()
            M = np.stack(pdf["cv"].to_numpy()).astype(np.int64)
            cn = np.sqrt((M * M).sum(axis=1).astype(np.float64))
            cos = (Q @ M.T).astype(np.float64) / (qn[:, None] * cn[None, :])
            cos[ids[None, :] == qids[:, None]] = -np.inf   # self-exclusion
            # per-batch LOCAL top-k: emit only candidates at or above each
            # query's kth-best cosine IN THIS BATCH (ties at the kth value
            # all kept, so the global (cos desc, id asc) ranking below
            # sees every row it could select) — the shuffle into the
            # final window carries ~k rows per (query, partition) instead
            # of the full query x corpus cross product
            kk = min(k, cos.shape[1])
            kth = -np.partition(-cos, kk - 1, axis=1)[:, kk - 1]
            qi, ci = np.where((cos >= kth[:, None]) & np.isfinite(cos))
            yield pd.DataFrame({
                "query_id": qids[qi],
                "neighbor_id": ids[ci],
                "cos": cos[qi, ci],
            })

    scored = corpus.select(
        F.col(id_col).alias("nid"), _quantized(F.col(vec_col), "cv")
    ).mapInPandas(score, schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def embedding_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id1 < id2, cosine ≥ threshold).

    Exact all-pairs as a BLOCK-PAIR self-join — fully distributed, nothing
    collects to the driver: each vector lands in a deterministic block
    (``xxhash64(id) mod num_blocks``) and is shuffled to every block-pair
    group (lo ≤ hi) it participates in; each group is one task that
    numpy-matmuls two bounded blocks (Arrow-batched ``applyInPandas``).
    Every unordered pair is examined in exactly one group. Cost model:
    shuffle volume = ``num_blocks`` × corpus, task memory = 2 blocks
    (2·N/B·dim·8 bytes) — pick B so a block fits an executor. Integer dot
    products are exact regardless of order and the final ``dot/(sqrt·sqrt)``
    double chain is correctly rounded, so results are bit-identical to the
    SQL formulation (oracle-checked). ~100× faster than per-element
    Catalyst ``aggregate`` folds.

    Scale path beyond all-pairs (O(N²/B) compute): LSH/IVF bucketing
    (``lsh_bucketed_topk`` / ``ivf_topk`` machinery) to localize candidate
    generation; the in-bucket math is this same kernel.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    if num_blocks < 1:
        raise ValueError("num_blocks >= 1 required")
    v = df.select(
        F.col(id_col).alias("id"), _quantized(F.col(vec_col), "v")
    ).withColumn("blk", F.pmod(F.xxhash64(F.col("id")), F.lit(num_blocks)).cast("int"))
    others = F.array(*[F.lit(j) for j in range(num_blocks)])
    # role 0: this vector's block is the LOW side of the pair (ob >= blk,
    # including the diagonal); role 1: HIGH side (ob < blk, strict — the
    # diagonal group holds each vector once, as role 0)
    lo_side = v.withColumn("ob", F.explode(others)).filter(
        F.col("ob") >= F.col("blk")
    ).select(F.col("blk").alias("lo"), F.col("ob").alias("hi"), "id", "v",
             F.lit(0).alias("role"))
    hi_side = v.withColumn("ob", F.explode(others)).filter(
        F.col("ob") < F.col("blk")
    ).select(F.col("ob").alias("lo"), F.col("blk").alias("hi"), "id", "v",
             F.lit(1).alias("role"))
    tagged = lo_side.unionByName(hi_side)

    # output ids keep the input id dtype (string doc ids are as valid as
    # numeric ones; the pair orientation id1 < id2 uses the natural order
    # of that dtype)
    id_type = df.schema[id_col].dataType
    schema = T.StructType([
        T.StructField("id1", id_type),
        T.StructField("id2", id_type),
        T.StructField("cos", T.DoubleType()),
    ])

    def run(key, pdf):
        empty = pd.DataFrame({"id1": pdf["id"].iloc[:0],
                              "id2": pdf["id"].iloc[:0],
                              "cos": pd.Series(dtype="float64")})
        lo, hi = key
        a = pdf[pdf["role"] == 0]
        b = a if lo == hi else pdf[pdf["role"] == 1]
        if not len(a) or not len(b):
            return empty
        ids1 = a["id"].to_numpy()
        ids2 = b["id"].to_numpy()
        m1 = np.stack(a["v"].to_numpy()).astype(np.int64)
        m2 = m1 if lo == hi else np.stack(b["v"].to_numpy()).astype(np.int64)
        n1 = np.sqrt((m1 * m1).sum(axis=1).astype(np.float64))
        n2 = n1 if lo == hi else np.sqrt((m2 * m2).sum(axis=1).astype(np.float64))
        dots = (m1 @ m2.T).astype(np.float64)
        cos = dots / (n1[:, None] * n2[None, :])
        ii, jj = np.where((cos >= threshold) & (ids1[:, None] != ids2[None, :]))
        i1, i2 = ids1[ii], ids2[jj]
        flip = i1 > i2
        out = pd.DataFrame({
            "id1": np.where(flip, i2, i1), "id2": np.where(flip, i1, i2),
            "cos": np.round(cos[ii, jj], 9),
        })
        # cross-block groups see each unordered pair once; the diagonal
        # group sees (i,j) and (j,i) — keep the i<j orientation only
        if lo == hi:
            out = out[~flip.astype(bool)] if len(out) else out
        return out

    return tagged.groupBy("lo", "hi").applyInPandas(run, schema)


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
    train_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse: bool | str = "auto",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus embeddings, form
    semantic-duplicate groups INSIDE each cluster (connected components
    of the ``cos >= threshold`` graph), and keep ONE representative per
    group — the member with the LOWEST cosine to its cluster centroid
    (the paper's keep rule: the least prototypical example preserves the
    most diversity), ties to the smallest id.

    Returns ``(id_col, cent_id, keep)`` for EVERY corpus row (rows in no
    duplicate group keep trivially) — filter ``keep`` to materialize the
    deduplicated corpus, or join back for payload columns.

    Scale shape (the reason SemDeDup exists): candidate generation is
    clustering, so pair work is within-cluster all-pairs — O(sum c_i^2)
    instead of O(N^2); task memory = one cluster's vector block (raise
    ``n_centroids`` until clusters fit; the paper runs ~100k clusters at
    100M+ points). Centroid training is the map-only Lloyd of
    :func:`kmeans_centroids` (``train_iters=0`` = deterministic
    smallest-id init, the oracle-replicable mode); assignment is the
    same map-only broadcast kernel as IVF; group resolution is the
    union-find/hash-min :func:`~bioframe_spark.datapipe.dedup.connected_components`.
    Quantized-int dots + one correctly-rounded double division keep every
    cosine bit-identical to the SQL oracle, same as embedding_dup_pairs.

    ``coarse``: routes corpus→centroid assignment through the
    approximate two-level router (see ``_centroid_assign``). ``"auto"``
    (default) engages it at ≥ ``spark.bioframe.coarseAssignMinCentroids``
    centroids and logs a one-line notice; ``True``/``False`` force /
    forbid it regardless of centroid count — cluster membership (and
    therefore which duplicates meet) can differ between the two modes.
    """
    import math

    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    trained = kmeans_centroids(corpus, n_centroids=n_centroids,
                               n_iter=train_iters, id_col=id_col,
                               vec_col=vec_col)
    cents = trained.select(
        "cent_id",
        F.transform(
            F.col("cvec"), lambda x: F.round(x * QUANT).cast("long")
        ).alias("cvec"),
    ).withColumn("cnorm", _norm2(F.col("cvec")))
    cent_rows = cents.orderBy("cent_id").collect()
    cid_type = cents.schema["cent_id"].dataType
    assigned = _centroid_assign(corpus, cent_rows, cid_type, id_col,
                                vec_col, "id", "v", "n2", 1, coarse=coarse)

    id_type = corpus.schema[id_col].dataType
    out_schema = T.StructType([
        T.StructField(id_col, id_type),
        T.StructField("cent_id", cid_type),
        T.StructField("keep", T.BooleanType()),
    ])

    # r9 optimization-round fuse (guide §1.2 step 1): duplicate groups
    # NEVER cross clusters (pairs are within-cluster by construction), and
    # the keep rule (lowest own-centroid cosine, ties to the smaller id)
    # is a per-component decision — so the pair graph, its connected
    # components AND the representative pick all happen inside ONE
    # per-cluster kernel on the single cent_id shuffle. The historical
    # shape ran a pairs kernel, the distributed connected_components
    # machinery (persist + count + hash-min/union-find jobs), a second
    # corpus pass for own-centroid cosines, a join and a window — ~8 jobs
    # and two corpus scans for decisions that were cluster-local all
    # along. Task memory contract is unchanged: one cluster's vector
    # block (the SemDeDup invariant: raise n_centroids until blocks fit).
    # Cosines stay bit-identical to the SQL oracle: int64-exact dots,
    # one double division by (sqrt(n2) * sqrt(cnorm)) in the same
    # operation order as the old expression chain.
    cent_map = {
        r["cent_id"]: (np.asarray(r["cvec"], dtype=np.int64),
                       math.sqrt(float(r["cnorm"])))
        for r in cent_rows
    }

    def cluster_kern(key, pdf):
        ids = pdf["id"].to_numpy()
        keep = np.ones(len(pdf), dtype=bool)
        if len(pdf) >= 2:
            M = np.stack(pdf["v"].to_numpy()).astype(np.int64)
            n = np.sqrt((M * M).sum(axis=1).astype(np.float64))
            cos = (M @ M.T).astype(np.float64) / (n[:, None] * n[None, :])
            ii, jj = np.where(cos >= threshold)
            tri = ii < jj  # each unordered pair once, no self pairs
            ii, jj = ii[tri], jj[tri]
            if len(ii):
                # union-find over row indices — same components as the
                # hash-min label propagation over the same edge set
                parent = list(range(len(pdf)))

                def find(x):
                    while parent[x] != x:
                        parent[x] = parent[parent[x]]
                        x = parent[x]
                    return x

                for a, b in zip(ii.tolist(), jj.tolist()):
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[rb] = ra
                cvec, csqrt = cent_map[key[0]]
                ccos = (M @ cvec).astype(np.float64) / (
                    np.sqrt(pdf["n2"].to_numpy().astype(np.float64))
                    * csqrt)
                roots = np.fromiter((find(i) for i in range(len(pdf))),
                                    dtype=np.int64, count=len(pdf))
                sizes = np.bincount(roots, minlength=len(pdf))
                in_group = sizes[roots] >= 2
                # representative = first member in (ccos asc, id asc)
                # order — the old window's row_number()==1 rule. A
                # zero-norm centroid/vector makes ccos NaN, which breaks
                # Python's sort total order (nondeterministic keep);
                # Spark's window ordered NaN LAST ascending — mirror
                # that deterministically by sorting NaN as +inf.
                ckey = np.where(np.isnan(ccos), np.inf, ccos)
                seen = set()
                for i in sorted(np.flatnonzero(in_group).tolist(),
                                key=lambda i: (ckey[i], ids[i])):
                    r = roots[i]
                    if r in seen:
                        keep[i] = False
                    else:
                        seen.add(r)
        return pd.DataFrame({
            id_col: ids,
            "cent_id": pdf["cent_id"].to_numpy(),
            "keep": keep,
        })

    return assigned.groupBy("cent_id").applyInPandas(cluster_kern,
                                                     out_schema)


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic spherical-k-means centroids, map-side Lloyd steps.

    Init: the ``n_centroids`` smallest-id corpus vectors (reproducible —
    no RNG state to ship). Each Lloyd iteration runs ONE corpus scan: the
    centroid matrix (n_centroids × dim — a few KB) is collected and
    captured by a ``mapInPandas`` kernel that does nearest-centroid
    assignment (numpy matmul + first-max argmax = the (cos desc, cent_id
    asc) tie rule) AND per-batch partial sums in the same pass, so the
    only shuffle per iteration carries ``n_batches × n_centroids`` rows
    of (cent_id, partial_sum, count) into a tiny final combine. The
    previous formulation shuffled corpus × n_centroids rows through a
    top-1 window and then corpus × dim posexploded rows into the mean —
    two full-corpus shuffles per iteration that a 100 TB scan cannot
    afford. Collecting centroids per iteration also bounds the plan: the
    lazy loop nested each iteration's plan inside the next.

    Returns (cent_id, cvec: array<double>).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    id_type = corpus.schema[id_col].dataType
    init = corpus.orderBy(id_col).limit(n_centroids).select(
        F.col(id_col).alias("cent_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cvec"),
    )
    out_schema = init.schema
    if n_iter <= 0:
        return init

    cent_rows = init.collect()
    v = corpus.select(
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    part_schema = T.StructType([
        T.StructField("cent_id", id_type),
        T.StructField("psum", T.ArrayType(T.DoubleType())),
        T.StructField("n", T.LongType()),
    ])

    for _ in range(n_iter):
        cids = [r["cent_id"] for r in cent_rows]
        C = np.stack([np.asarray(r["cvec"], dtype=np.float64)
                      for r in cent_rows])
        cn = np.sqrt((C * C).sum(axis=1))

        def partials(batches, _cids=cids, _C=C, _cn=cn):
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
                vn = np.sqrt((V * V).sum(axis=1))
                # columns ordered by cent_id; argmax returns the FIRST
                # maximum → ties break to the smallest cent_id, same as
                # the reference (cos desc, cent_id asc) window rule
                pick = ((V @ _C.T) / (vn[:, None] * _cn[None, :])).argmax(axis=1)
                rows = []
                for ci in np.unique(pick):
                    sel = V[pick == ci]
                    rows.append((_cids[ci], sel.sum(axis=0), len(sel)))
                yield pd.DataFrame(rows, columns=["cent_id", "psum", "n"])

        # combine partials per centroid IN SPARK (element-wise array sum
        # as dim independent double aggregates — map-side partial agg
        # shrinks the shuffle to n_centroids rows per partition), then
        # collect only the n_centroids combined rows. Collecting the raw
        # per-batch partials instead (the old formulation) scales the
        # driver materialization with batch count — ~10M batches at
        # 100 TB. Empty clusters drop (reference groupBy-over-assigned
        # behavior); ORDER BY cent_id keeps the next iteration's
        # argmax first-max tie rule on cent_id-asc columns.
        dim = C.shape[1]
        combined = (
            v.mapInPandas(partials, part_schema)
            .groupBy("cent_id")
            .agg(F.array(*[F.sum(F.col("psum")[i]) for i in range(dim)])
                 .alias("psum"),
                 F.sum("n").alias("n"))
            .orderBy("cent_id")
            .collect()
        )
        cent_rows = [
            {"cent_id": r["cent_id"],
             "cvec": [x / r["n"] for x in r["psum"]]}
            for r in combined
        ]
    return local_df([(r["cent_id"], r["cvec"]) for r in cent_rows],
                    out_schema)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 2,
    coarse: bool | str = "auto",
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) partitioning.

    Centroids come from ``kmeans_centroids`` (deterministic Lloyd
    iterations, ``train_iters=0`` degrades to the smallest-id init).
    Corpus vectors are assigned to their nearest centroid (one broadcast
    join + window); queries scan only their ``n_probe`` nearest centroid
    lists — at 1000× corpus scale the scan per query drops
    ~n_centroids/n_probe-fold.

    ``coarse``: "auto" (default) | True | False — whether CORPUS
    assignment may use the approximate two-level router above the
    session centroid threshold (auto logs a notice when it engages;
    query probing always stays exact). Posting-list membership can
    differ between modes.
    """
    trained = kmeans_centroids(corpus, n_centroids=n_centroids,
                               n_iter=train_iters, id_col=id_col,
                               vec_col=vec_col)
    cents = trained.select(
        "cent_id",
        F.transform(
            F.col("cvec"), lambda x: F.round(x * QUANT).cast("long")
        ).alias("cvec"),
    ).withColumn("cnorm", _norm2(F.col("cvec")))

    # Assignment is MAP-ONLY: centroids (a handful of rows) collect to a
    # numpy matrix captured by a mapInPandas kernel; nearest-centroid per
    # vector is an int64-exact matmul + argmax. The previous formulation
    # (crossJoin + row_number window) shuffled corpus x n_centroids rows
    # just to pick each vector's top-1 — a full-corpus shuffle that a
    # 100 TB scan cannot afford. Tie semantics preserved exactly: columns
    # are ordered by cent_id asc and np.argmax returns the FIRST maximum,
    # matching the window's (ccos desc, cent_id asc); integer dots and
    # the same dot/(sqrt*sqrt) double chain make the cosines bit-equal.
    cent_rows = cents.orderBy("cent_id").collect()
    cid_type = cents.schema["cent_id"].dataType
    c = _centroid_assign(corpus, cent_rows, cid_type, id_col, vec_col,
                         "neighbor_id", "cv", "cn", 1, coarse=coarse)
    # coarse=False here regardless of the corpus-side setting: the
    # docstring's contract is "query probing always stays exact", and
    # n_probe=1 with many centroids would otherwise auto-engage the
    # two-level router for queries too
    q = _centroid_assign(queries, cent_rows, cid_type, id_col, vec_col,
                         "query_id", "qv", "qn", n_probe, coarse=False)
    return _rank_probed(q, c, k)


def _coarse_quantizer(C: "np.ndarray", n_groups: int, iters: int = 4):
    """Driver-side spherical mini-k-means over the CENTROIDS themselves
    (C is n_centroids × dim, at most ~100k rows — trivial on the
    driver): returns (group_of_centroid, unit group vectors). Init =
    first n_groups in cent_id order (deterministic, same convention as
    kmeans_centroids); empty groups keep their previous vector."""
    import numpy as np

    Cf = C.astype(np.float64)
    Cn = Cf / np.maximum(np.sqrt((Cf * Cf).sum(axis=1))[:, None], 1e-300)
    G = Cn[:n_groups].copy()
    for _ in range(iters):
        grp = (Cn @ G.T).argmax(axis=1)
        for g in range(n_groups):
            sel = Cn[grp == g]
            if len(sel):
                m = sel.sum(axis=0)
                G[g] = m / max(float(np.sqrt((m * m).sum())), 1e-300)
    # final REassignment against the final G: membership must be argmax
    # w.r.t. the group vectors the router will use, so a vector sitting
    # exactly on a centroid always probes that centroid's group
    grp = (Cn @ G.T).argmax(axis=1)
    return grp, G


def _centroid_assign(df, cent_rows, cid_type, id_col, vec_col,
                     out_id, vname, nname, top, coarse="auto"):
    """Map-only nearest-centroid assignment: the QUANTIZED centroid rows
    (a few KB) are captured by a ``mapInPandas`` kernel; each batch does
    one int64-exact matmul + argmax/stable-argsort.  Tie rule = the
    (cos desc, cent_id asc) window: rows are ordered by cent_id asc and
    ``argmax``/stable argsort return the FIRST maximum.

    TWO-LEVEL (coarse) path — the constant-cluster-size scale escape:
    exact assignment is O(N·n_centroids) flops, which turns quadratic
    when n_centroids scales with the corpus (SemDeDup's ~100k-cluster
    regime). With ``top == 1`` and n_centroids ≥
    ``spark.bioframe.coarseAssignMinCentroids`` (default 512 — the
    measured crossover: at 256 centroids the routing matmul + per-group
    loop still costs more than it saves, at 1024 it wins 1.5x and the
    assign exponent flattens to ~0.13; §12-r07b), vectors
    route through ~√C super-centroids (a driver-side mini-k-means over
    the centroid table), probe the ``spark.bioframe.coarseAssignProbes``
    (default 2) nearest groups, and assign EXACTLY within the probed
    candidates — per-vector cost ~(probes+1)·√C dots instead of C. The
    result is exact argmax over the probed candidate set (same int64
    dots, same cid-asc tie rule); a vector whose true centroid lives
    outside its probed groups lands on its best probed centroid instead
    — the standard IVF approximation, acceptable wherever clustering is
    itself the heuristic (SemDeDup grouping, IVF posting lists). Small
    centroid counts — including every oracle-checked configuration —
    stay on the exact path."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    cids = [r["cent_id"] for r in cent_rows]
    C = np.stack([np.asarray(r["cvec"], dtype=np.int64) for r in cent_rows])
    cn = np.sqrt((C * C).sum(axis=1).astype(np.float64))

    spark = df.sparkSession
    coarse_min = int(spark.conf.get(
        "spark.bioframe.coarseAssignMinCentroids", "512"))
    n_probes = int(spark.conf.get("spark.bioframe.coarseAssignProbes", "2"))
    # coarse routing is an op-level contract (ADVICE r7: the silent
    # conf-threshold switch changed output values for callers who merely
    # crossed 512 centroids): True forces it, False forbids it, "auto"
    # keeps the measured-crossover default but says so out loud
    if coarse not in ("auto", True, False):
        raise ValueError(f"coarse must be 'auto', True or False, "
                         f"got {coarse!r}")
    if coarse is True and top != 1:
        raise ValueError(
            "coarse=True requires top-1 assignment (multi-probe query "
            "assignment stays exact); got top=%d" % top)
    use_coarse = (top == 1 and len(cids) >= 2
                  and (coarse is True
                       or (coarse == "auto" and len(cids) >= coarse_min)))
    if use_coarse:
        if coarse == "auto":
            import logging
            logging.getLogger("bioframe_spark.similarity").warning(
                "centroid assignment: %d centroids >= "
                "spark.bioframe.coarseAssignMinCentroids=%d — engaging "
                "the approximate two-level (coarse) router (probes=%d). "
                "Pass coarse=False on the calling op for exact "
                "assignment.", len(cids), coarse_min, n_probes)
        return _centroid_assign_coarse(
            df, cids, C, cn, cid_type, id_col, vec_col,
            out_id, vname, nname, n_probes)
    v = df.select(
        F.col(id_col).alias(out_id), _quantized(F.col(vec_col), vname)
    )
    schema = T.StructType([
        T.StructField(out_id, df.schema[id_col].dataType),
        T.StructField(vname, T.ArrayType(T.LongType())),
        T.StructField(nname, T.LongType()),
        T.StructField("cent_id", cid_type),
    ])

    def kern(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vname].to_numpy()).astype(np.int64)
            vn2 = (V * V).sum(axis=1)
            cos = (V @ C.T).astype(np.float64) / (
                np.sqrt(vn2.astype(np.float64))[:, None] * cn[None, :]
            )
            if top == 1:
                pick = cos.argmax(axis=1)
                yield pd.DataFrame({
                    out_id: pdf[out_id].to_numpy(),
                    vname: pdf[vname].to_numpy(),
                    nname: vn2,
                    "cent_id": [cids[i] for i in pick],
                })
            else:
                t = min(top, cos.shape[1])
                # per-row full order by (cos desc, cent_id asc) —
                # n_centroids is small, a stable argsort on -cos keeps
                # cent_id-ascending order among exact ties
                order = np.argsort(-cos, axis=1, kind="stable")[:, :t]
                ridx = np.repeat(np.arange(len(pdf)), t)
                yield pd.DataFrame({
                    out_id: pdf[out_id].to_numpy()[ridx],
                    vname: pdf[vname].to_numpy()[ridx],
                    nname: vn2[ridx],
                    "cent_id": [cids[i] for i in order.ravel()],
                })

    return v.mapInPandas(kern, schema)


def _centroid_assign_coarse(df, cids, C, cn, cid_type, id_col, vec_col,
                            out_id, vname, nname, n_probes):
    """The two-level assignment kernel (see _centroid_assign). Group
    structure is computed ONCE on the driver and captured by the
    closure; per batch: one small float matmul routes vectors to their
    probed groups, then one exact int64 matmul per (group × its probed
    rows) — total flops ~N·dim·(√C·(1+probes·density)) vs N·dim·C."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    n_groups = max(2, int(np.ceil(np.sqrt(len(cids)))))
    grp, G = _coarse_quantizer(C, n_groups)
    members = [np.flatnonzero(grp == g) for g in range(n_groups)]
    # an EMPTY group must never consume a probe slot (a vector whose
    # probes all landed empty would fall through unassigned)
    empty = np.array([len(m) == 0 for m in members])
    p = min(n_probes, int((~empty).sum()))

    v = df.select(
        F.col(id_col).alias(out_id), _quantized(F.col(vec_col), vname)
    )
    schema = T.StructType([
        T.StructField(out_id, df.schema[id_col].dataType),
        T.StructField(vname, T.ArrayType(T.LongType())),
        T.StructField(nname, T.LongType()),
        T.StructField("cent_id", cid_type),
    ])

    def kern(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vname].to_numpy()).astype(np.int64)
            vn2 = (V * V).sum(axis=1)
            vnorm = np.maximum(np.sqrt(vn2.astype(np.float64)), 1e-300)
            Vn = V.astype(np.float64) / vnorm[:, None]
            # route: top-p groups per vector (stable argsort keeps the
            # group order deterministic under exact ties)
            gcos = Vn @ G.T
            gcos[:, empty] = -np.inf
            probed = np.argsort(-gcos, axis=1, kind="stable")[:, :p]
            best = np.full(len(V), -np.inf)
            pick = np.zeros(len(V), dtype=np.int64)
            for g in range(n_groups):
                m = members[g]
                if not len(m):
                    continue
                rows = np.flatnonzero((probed == g).any(axis=1))
                if not len(rows):
                    continue
                sub = V[rows]
                cos = (sub @ C[m].T).astype(np.float64) / (
                    vnorm[rows][:, None] * cn[m][None, :])
                loc = cos.argmax(axis=1)  # first max = lowest cid in m
                val = cos[np.arange(len(rows)), loc]
                cand = m[loc]
                # running best with the global (cos desc, cent_id asc)
                # tie rule across groups
                upd = (val > best[rows]) | (
                    (val == best[rows]) & (cand < pick[rows]))
                r = rows[upd]
                best[r] = val[upd]
                pick[r] = cand[upd]
            yield pd.DataFrame({
                out_id: pdf[out_id].to_numpy(),
                vname: pdf[vname].to_numpy(),
                nname: vn2,
                "cent_id": [cids[i] for i in pick],
            })

    return v.mapInPandas(kern, schema)


def _rank_probed(q, c, k):
    """Join probed queries to posting rows on cent_id, exclude self, rank
    by exact cosine within each query."""
    joined = q.join(c, "cent_id").filter(F.col("query_id") != F.col("neighbor_id"))
    cos = (
        _dot(F.col("qv"), F.col("cv")).cast("double")
        / (F.sqrt(F.col("qn").cast("double")) * F.sqrt(F.col("cn").cast("double")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        joined.withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def build_ivf_index(corpus: DataFrame, path: str,
                    n_centroids: int = 16, train_iters: int = 2,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    coarse: bool | str = "auto") -> None:
    """Persist an IVF index: train once, write ``{path}/centroids``
    (cent_id, quantized cvec) and ``{path}/postings`` — the corpus
    assigned to its nearest centroid, PARTITIONED BY cent_id on disk.

    The partitioning is the index structure: each centroid's posting
    list is a parquet partition directory, so probe-time reads scan only
    the probed lists.  ``ivf_topk_indexed`` joins the (small, broadcast)
    probed-query side to the postings on the partition column, and
    Spark's dynamic partition pruning drops the unprobed partitions at
    the SCAN — at 1000× corpus scale a recurring query stream re-uses
    one training + one corpus-assignment pass forever, and each query
    reads ~n_probe/n_centroids of the corpus bytes (plan-asserted in
    tests/test_physical_plans.py).  Postings store the quantized vector
    and its norm, so indexed results are bit-identical to ``ivf_topk``
    with the same parameters."""
    trained = kmeans_centroids(corpus, n_centroids=n_centroids,
                               n_iter=train_iters, id_col=id_col,
                               vec_col=vec_col)
    cents = trained.select(
        "cent_id",
        F.transform(
            F.col("cvec"), lambda x: F.round(x * QUANT).cast("long")
        ).alias("cvec"),
    )
    # ONE evaluation of the training plan: collect first, persist the
    # collected rows, assign against the same rows — writing the lazy
    # frame and re-collecting it would run the plan twice, and any
    # between-run nondeterminism (duplicate ids under orderBy().limit()
    # init) would store centroids that disagree with the postings.
    cent_rows = cents.orderBy("cent_id").collect()
    cid_type = cents.schema["cent_id"].dataType
    local_df(cent_rows, cents.schema).coalesce(1) \
        .write.mode("overwrite").parquet(f"{path}/centroids")
    postings = _centroid_assign(corpus, cent_rows, cid_type, id_col,
                                vec_col, "neighbor_id", "cv", "cn", 1,
                                coarse=coarse)
    postings.write.mode("overwrite").partitionBy("cent_id").parquet(
        f"{path}/postings")


def ivf_topk_indexed(queries: DataFrame, path: str, k: int = 10,
                     n_probe: int = 4, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     broadcast_queries: bool | None = None) -> DataFrame:
    """Approximate top-k against a persisted :func:`build_ivf_index`.

    Queries are assigned map-only to their ``n_probe`` nearest stored
    centroids, then joined to the cent_id-partitioned postings.  When
    the probed-query side is broadcastable, dynamic partition pruning
    drops every unprobed posting list at the scan — the recurring-batch
    fast path.  ``broadcast_queries=None`` auto-decides from Catalyst's
    size estimate of the query input vs ``autoBroadcastJoinThreshold``
    (×``n_probe`` fan-out): a corpus-scale query batch must NOT be
    force-broadcast (an unbounded broadcast OOMs where a shuffle join
    succeeds — it scans all posting lists, which at that query scale it
    would touch anyway).  Bit-identical to ``ivf_topk`` with the same
    (n_centroids, train_iters, n_probe, k) either way."""
    spark = queries.sparkSession
    cents = spark.read.parquet(f"{path}/centroids")
    cent_rows = cents.orderBy("cent_id").collect()
    cid_type = cents.schema["cent_id"].dataType
    # query probing always stays exact (same contract as ivf_topk)
    q = _centroid_assign(queries, cent_rows, cid_type, id_col, vec_col,
                         "query_id", "qv", "qn", n_probe, coarse=False)
    if broadcast_queries is None:
        from ..operators.ops import _plan_size_bytes
        bar = _parse_bytes_conf(
            spark, "spark.sql.autoBroadcastJoinThreshold", 10 << 20)
        broadcast_queries = bar > 0 and \
            _plan_size_bytes(queries) * max(n_probe, 1) <= bar
    postings = spark.read.parquet(f"{path}/postings")
    return _rank_probed(F.broadcast(q) if broadcast_queries else q,
                        postings, k)


def lsh_plane_components(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic pseudo-random hyperplane components for the md5 LSH
    mode: component j of plane p is
    ``int(md5(f"{p},{j}")[:15], 16) % 2001 - 1000`` — an integer in
    [-1000, 1000], computable identically in any environment (the driver
    oracle embeds the same numbers)."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{p},{j}".encode()).hexdigest()[:15], 16) % 2001
            - 1000
            for j in range(dim)
        ]
        for p in range(n_planes)
    ]


def lsh_bucketed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH buckets + in-bucket scan.

    Hyperplanes are pseudo-random but deterministic: component j of plane p
    is ``hash(p, j) % 2001 - 1000`` (an integer in [-1000, 1000]; scaling
    by 1/1000 would not change any projection's sign, so the components
    stay integer). A vector's bucket is the n_planes-bit sign pattern;
    queries probe only their own bucket — at 1000× corpus scale the scan
    per query drops ~2^n_planes-fold.

    ``hash_fn='md5'``: plane components come from driver-side md5
    (``lsh_plane_components``) and project the QUANTIZED integer vector —
    every bucket bit is integer-exact arithmetic, reproducible in any
    engine (the driver oracle embeds the same components).
    """
    if dim is None:
        first = corpus.select(F.size(vec_col).alias("d")).first()
        dim = first["d"]

    # Bucket bits as ONE vectorized pandas UDF (numpy matmul against the
    # plane matrix): the previous pure-Catalyst formulation built
    # n_planes x dim fold-expression trees whose ANALYSIS/CODEGEN cost
    # alone was ~11 s per query regardless of data size (measured on the
    # datapipe ladder — flat 11 s from 2k to 32k vectors).
    if hash_fn == "md5":
        plane = lsh_plane_components(n_planes, dim)
    elif hash_fn == "xxhash64":
        # component recipe xxhash64(p, j) % 2001 - 1000, fetched once as a
        # n_planes*dim-ROW job with ONE hash expression over int columns
        # (hash-by-value: identical to hashing int literals) — a 1-row job
        # with one expression per component costs seconds of analysis
        rows = (
            corpus.sparkSession.range(n_planes * dim)
            .select(
                F.expr(f"CAST(id DIV {dim} AS INT)").alias("p"),
                F.expr(f"CAST(id % {dim} AS INT)").alias("j"),
            )
            .select(
                "p", "j",
                (F.xxhash64(F.col("p"), F.col("j")) % 2001 - 1000).alias("c"),
            )
            .collect()
        )
        plane = [[0] * dim for _ in range(n_planes)]
        for r in rows:
            plane[r["p"]][r["j"]] = r["c"]
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")

    import numpy as np
    import pandas as pd

    P = np.asarray(plane, dtype=np.int64)
    Pf = P.astype(np.float64) / 1000.0
    weights = (np.int64(1) << np.arange(n_planes, dtype=np.int64))
    integer_mode = hash_fn == "md5"

    # no type hints on the kernel: this module uses
    # `from __future__ import annotations`, which stringifies them and
    # breaks pandas_udf's signature inspection — register explicitly
    def _bucket_kernel(v):
        if not len(v):
            return pd.Series([], dtype="int64")
        m = np.stack(v.to_numpy()).astype(np.float64)
        if integer_mode:
            # Spark round() is HALF_UP (away from zero); np.round is
            # banker's — reproduce _quantized bit-exactly so the md5
            # bucket stays integer-exact (and oracle-reproducible)
            q = np.where(m >= 0, np.floor(m * QUANT + 0.5),
                         np.ceil(m * QUANT - 0.5)).astype(np.int64)
            proj = q @ P.T
        else:
            proj = m @ Pf.T
        bits = (proj >= 0).astype(np.int64)
        return pd.Series(bits @ weights)

    mk_bucket = F.pandas_udf(_bucket_kernel, "long")

    # coalesce-to-sentinel makes the bucket column NON-NULLABLE (the
    # kernel never returns null, so it is semantically free): without
    # it the inner join pushes an isnotnull(bucket) predicate below the
    # projection and the extraction pass evaluates the kernel TWICE per
    # side — one ArrowEvalPython for the filter, another for the output
    # column (4 kernel passes total in the executed plan; the r8
    # plan-audit sweep caught it). With the coalesce the isnotnull
    # constant-folds away and each side runs ONE kernel pass (pinned in
    # tests/test_plan_budgets.py).
    def bucket(col):
        return F.coalesce(mk_bucket(col), F.lit(-1))

    q = queries.select(
        F.col(id_col).alias("query_id"), _quantized(F.col(vec_col), "qv"),
        bucket(F.col(vec_col)).alias("bucket"),
    ).withColumn("qn", _norm2(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _quantized(F.col(vec_col), "cv"),
        bucket(F.col(vec_col)).alias("bucket"),
    ).withColumn("cn", _norm2(F.col("cv")))
    joined = q.join(c, "bucket").filter(F.col("query_id") != F.col("neighbor_id"))
    cos = (
        _dot(F.col("qv"), F.col("cv")).cast("double")
        / (F.sqrt(F.col("qn").cast("double")) * F.sqrt(F.col("cn").cast("double")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        joined.withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )
