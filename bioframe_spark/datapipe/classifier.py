"""Hashed-feature linear quality classifier — training AND inference.

The CCNet / GPT-3-style corpus-quality loop: label a small reference
set positive and a random corpus slice negative, train a linear
bag-of-words classifier, score every document, keep/bucket/sample by
score. :func:`~bioframe_spark.datapipe.ranking.linear_text_score`
already covers inference from an explicit token→weight vocabulary; this
module adds the HASHING-TRICK variant (Weinberger et al. 2009: token →
``hash(token) % dim`` slot, so the model is a fixed-size vector with no
vocabulary table) and the distributed TRAINER that produces it.

Trainer = full-batch gradient descent on logistic loss — deterministic
given the input (no sampling, no asynchrony), which is what makes it
testable and reproducible across cluster sizes; fastText's trick is
features, not optimizer cleverness, and corpus-quality classifiers are
trained on model-sized reference sets where full batches are cheap.

100 TB design, per epoch: ONE pass over the (cached, feature-ized)
training set computes per-PARTITION gradients SPARSELY — an Arrow
kernel emits (slot, partial) rows only for slots its partition touched
— and one slot-keyed aggregation with map-side combine reduces them to
≤ ``dim`` rows collected to the driver (the model update is
driver-sized by construction, bounded like every other collect in this
package). Nothing corpus-sized ever concentrates: no dense
gradient-vector rows (a dense D-float row per partition would ship
partitions × dim floats through the driver), no parameter server,
weights re-enter each epoch through a task broadcast.

Inference (:func:`hashed_text_score`) is pure JVM: explode → slot
expression → broadcast weight join → per-doc aggregate — the same plan
shape as ``linear_text_score``, fully SQL-oracle-able in md5 hash mode.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.construction import local_df
from .ranking import _doc_tokens


def hash_slot(token: Column, dim: int, hash_fn: str = "xxhash64") -> Column:
    """Hashing-trick feature slot for a token column. ``xxhash64``:
    JVM codegen, production default. ``md5``: 60-bit int from the md5
    hex prefix — engine-portable (DuckDB:
    ``('0x' || substring(md5(t), 1, 15))::BIGINT % dim``)."""
    if hash_fn == "xxhash64":
        h = F.xxhash64(token)
    elif hash_fn == "md5":
        h = F.conv(F.substring(F.md5(token), 1, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', "
                         f"got {hash_fn!r}")
    return F.pmod(h, F.lit(int(dim)))


def _slotted(df: DataFrame, id_col: str, text_col: str, dim: int,
             hash_fn: str, extra: list[str] | None = None) -> DataFrame:
    """(__id[, extra...], __n, slot) — one row per token occurrence,
    zero-token / null docs kept via explode_outer (slot null)."""
    from ..operators.ops import _spread_if_underpartitioned

    toks = _doc_tokens(text_col)
    d = _spread_if_underpartitioned(
        df.select(id_col, text_col, *(extra or [])))
    return d.select(
        F.col(id_col).alias("__id"),
        *[F.col(c) for c in (extra or [])],
        F.when(F.col(text_col).isNotNull(), F.size(toks)).alias("__n"),
        F.explode_outer(toks).alias("__tok"),
    ).withColumn("slot", F.when(F.col("__tok").isNotNull(),
                                hash_slot(F.col("__tok"), dim, hash_fn))) \
     .drop("__tok")


def train_quality_classifier(df: DataFrame, *, label_col: str = "label",
                             text_col: str = "text",
                             id_col: str = "doc_id",
                             dim: int = 1 << 18, epochs: int = 10,
                             lr: float = 1.0, l2: float = 0.0,
                             hash_fn: str = "xxhash64",
                             return_history: bool = False):
    """Train the hashed linear classifier: full-batch GD on logistic
    loss over mean-of-features documents (the fastText averaging
    convention — a feature vector is the MEAN of its token one-hots, so
    long documents don't dominate the gradient).

    ``df`` needs ``label_col`` ∈ {0, 1} (nulls and null-text rows are
    excluded from training). Returns a numpy weight vector of length
    ``dim + 1`` (last entry = bias); with ``return_history=True``,
    ``(w, [per-epoch mean logistic loss])``. Feed the vector to
    :func:`hashed_text_score` (same ``dim`` and ``hash_fn`` — the pair
    IS the model identity, store them with it).

    Scale: the feature-ized training set is computed once and persisted
    (one tokenize pass); each epoch is one aggregation — per-doc margin
    via broadcast weight join, per-slot sparse gradient with map-side
    combine, ≤ dim + 2 rows to the driver. Epochs are passes, not
    shuffles of text.
    """
    import numpy as np

    if epochs < 1:
        raise ValueError(f"epochs must be >= 1, got {epochs}")
    base = _slotted(
        df.filter(F.col(label_col).isNotNull()
                  & F.col(text_col).isNotNull()),
        id_col, text_col, dim, hash_fn,
        extra=[label_col]).withColumn(
            "__y", F.col(label_col).cast("double")).drop(label_col)
    # per-token weight 1/n_doc (mean-of-features); zero-token docs have
    # no slot rows but still contribute bias gradient via their __id row
    base = base.withColumn(
        "__c", F.when(F.col("__n") > 0, F.lit(1.0) / F.col("__n"))
                .otherwise(F.lit(0.0))).persist()
    n_docs = base.select(F.count_distinct("__id")).first()[0]
    if not n_docs:
        base.unpersist()
        raise ValueError("train_quality_classifier: no labeled rows")

    w = np.zeros(int(dim), dtype="float64")
    b = 0.0
    history = []
    try:
        for _ in range(int(epochs)):
            wdf = local_df(
                [(int(s), float(w[s])) for s in np.flatnonzero(w)],
                "slot long, weight double")
            margin = (base.join(F.broadcast(wdf), "slot", "left")
                      .groupBy("__id")
                      .agg(F.max("__y").alias("__y"),
                           F.coalesce(
                               F.sum(F.col("weight") * F.col("__c")),
                               F.lit(0.0)).alias("__m")))
            # residual r = sigmoid(b + m) - y, one row per doc
            r = (F.lit(1.0)
                 / (F.lit(1.0) + F.exp(-(F.lit(float(b)) + F.col("__m"))))
                 - F.col("__y"))
            # resid feeds TWO consumers (the bias/loss scalars and the
            # slot-gradient join) — persist per epoch or the margin
            # aggregation executes twice (the multi-consumer hazard
            # plan_audit polices); doc-sized, released same epoch
            resid = margin.select(
                "__id", r.alias("__r"),
                (F.log1p(F.exp(-(F.lit(float(b)) + F.col("__m"))))
                 + (F.lit(1.0) - F.col("__y"))
                 * (F.lit(float(b)) + F.col("__m"))).alias("__loss")) \
                .persist()
            try:
                scal = resid.agg(F.sum("__r"), F.sum("__loss")).first()
                gb, loss = float(scal[0] or 0.0), float(scal[1] or 0.0)
                # sparse slot gradient: join residuals back to the slot
                # rows (keyed by __id — one double per doc; AQE
                # broadcasts a small residual side, sort-merge
                # otherwise), aggregate by slot with map-side combine
                grad = (base.filter(F.col("slot").isNotNull())
                        .join(resid.select("__id", "__r"), "__id")
                        .groupBy("slot")
                        .agg(F.sum(F.col("__r") * F.col("__c")).alias("g")))
                from ..operators.ops import _bounded_pdf
                gp = _bounded_pdf(grad, int(dim) + 1, probe=False)
            finally:
                resid.unpersist()
            if gp is None:  # pragma: no cover — slot domain bounds rows
                raise RuntimeError("gradient collect exceeded dim rows")
            g = np.zeros(int(dim), dtype="float64")
            if len(gp):
                g[gp["slot"].to_numpy(dtype="int64")] = gp["g"].to_numpy()
            w -= lr * (g / n_docs + l2 * w)
            b -= lr * (gb / n_docs)
            history.append(loss / n_docs)
    finally:
        base.unpersist()
    out = np.concatenate([w, [b]])
    return (out, history) if return_history else out


def _collect_weight_rows(wdf: DataFrame, dim: int) -> list:
    """Bounded collect of a (slot, weight) model DataFrame. The frame
    is ≤ ``dim`` rows by contract (one per hash slot); routing it
    through ``ops._bounded_pdf`` makes a malformed — corpus-sized —
    frame fail loudly with a clear error instead of OOMing the driver,
    like every other bounded collect in the package."""
    from ..operators.ops import _bounded_pdf

    pdf = _bounded_pdf(wdf.select("slot", "weight"), int(dim), probe=False)
    if pdf is None:
        raise ValueError(
            f"weights DataFrame has more than dim={dim} rows — not a "
            "(slot, weight) model table")
    return [(int(s), float(v))
            for s, v in zip(pdf["slot"].tolist(), pdf["weight"].tolist())]


def hashed_text_score(df: DataFrame, weights, *, dim: int | None = None,
                      bias: float | None = None,
                      hash_fn: str = "xxhash64",
                      sigmoid: bool = False,
                      id_col: str = "doc_id", text_col: str = "text",
                      score_decimals: int | None = 6) -> DataFrame:
    """Score the corpus with a hashed linear model: ``score = bias +
    mean(weights[slot(token)])``. ``weights``: the ``dim + 1`` vector
    from :func:`train_quality_classifier` (bias folded in, ``dim``
    inferred), or a (slot, weight) DataFrame / mapping with explicit
    ``dim`` and ``bias``. Same output contract as ``linear_text_score``
    (null text → null score; ``sigmoid=True`` adds ``prob``).

    Pure JVM plan: explode → slot hash → broadcast weight join →
    per-doc aggregate. The weight side is ≤ dim rows — model-sized, the
    broadcast is the point of the hashing trick."""
    import numpy as np

    if isinstance(weights, np.ndarray):
        if dim is not None and dim != len(weights) - 1:
            raise ValueError(f"dim={dim} disagrees with weight vector "
                             f"length {len(weights)} (dim + 1 expected)")
        dim = len(weights) - 1
        bias = float(weights[-1]) if bias is None else float(bias)
        items = [(int(s), float(weights[s]))
                 for s in np.flatnonzero(weights[:-1])]
    else:
        if dim is None:
            raise ValueError("dim is required with non-vector weights")
        bias = float(bias or 0.0)
        if isinstance(weights, DataFrame):
            items = _collect_weight_rows(weights, int(dim))
        else:
            items = [(int(s), float(v)) for s, v in sorted(weights.items())]
    wdf = local_df(items or [(int(-1), 0.0)], "slot long, weight double")
    slotted = _slotted(df, id_col, text_col, int(dim), hash_fn)
    summed = (slotted.join(F.broadcast(wdf), "slot", "left")
              .groupBy("__id")
              .agg(F.max("__n").alias("__n"),
                   F.sum("weight").alias("__sw")))
    sw = F.coalesce(F.col("__sw"), F.lit(0.0))
    mean = F.when(F.col("__n") > 0, sw / F.col("__n")).otherwise(F.lit(0.0))
    raw = F.lit(bias) + mean
    score = F.when(F.col("__n").isNull(), F.lit(None).cast("double")) \
             .otherwise(raw)
    if score_decimals is not None:
        score = F.round(score, score_decimals)
    out = summed.select(F.col("__id").alias(id_col), score.alias("score"))
    if sigmoid:
        out = out.withColumn(
            "prob",
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("score"))),
                    score_decimals or 9))
    return out
