"""End-to-end corpus curation: the composition a training-data pipeline
actually runs, as ONE lazy DataFrame DAG.

    quality gate → exact dedup → fuzzy dedup (pairs → components →
    canonical doc per cluster) → train/val split

Every stage is the corresponding library operator, so the whole pipeline
inherits their scale shapes: the quality gate is a scan-time filter
(pushes down), exact dedup is one digest-keyed shuffle, the fuzzy stage
is the banded/inverted-index pair join plus component resolution (local
union-find under ``spark.bioframe.ccLocalEdges``, hash-min label
propagation above it), and the split is a map-only deterministic hash.
The only eager step is the fuzzy stage's strategy probe: component
resolution persists + counts the pair table once to pick local
union-find vs the propagation loop (both paths then reuse that cache);
everything else stays lazy until the caller acts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.persist import owns, persist
from .dedup import (drop_exact_duplicates, drop_near_duplicates,
                    ngram_jaccard_pairs)
from .sampling import train_val_split
from .text import token_count


@owns
def curate_corpus(
    docs: DataFrame,
    min_tokens: int = 10,
    jaccard_threshold: float = 0.5,
    n: int = 3,
    val_fraction: float = 0.1,
    seed: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Curate a raw document table into a deduplicated, split corpus.

    Returns the surviving rows of ``docs`` (all original columns) plus a
    ``split`` column ('train' / 'val'). Stage order matters and mirrors
    production practice: the cheap quality gate shrinks everything
    downstream; exact dedup (min-id representative per content hash)
    removes the bulk duplicates before the quadratic-ish fuzzy stage
    sees them; fuzzy dedup keeps one canonical (min-id) doc per
    near-duplicate component; the split is assigned LAST so both sides
    stay duplicate-free across the train/val boundary.
    """
    gated = docs.filter(token_count(F.col(text_col)) >= min_tokens)
    exact = drop_exact_duplicates(gated, text_col=text_col, id_col=id_col)
    # the exact-dedup survivors feed BOTH the pair miner and the final
    # canonical anti-join; without a persist each consumer replays
    # scan -> gate -> dedup window -> semi join (r9; same shared-frame
    # persist convention as merge()'s premerge path and the CC edge
    # cache). It and the pair miner's own persists live as long as the
    # result, or until an enclosing scope() exits.
    exact = persist(exact)
    pairs = ngram_jaccard_pairs(exact, n=n, threshold=jaccard_threshold,
                                text_col=text_col, id_col=id_col,
                                max_doc_freq=max_doc_freq)
    canonical = drop_near_duplicates(exact, pairs, id_col=id_col)
    return train_val_split(canonical, val_fraction, key_col=id_col,
                           seed=seed)
