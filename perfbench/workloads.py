"""The two workloads: what each generates and which inputs each call gets.

Both run the same call list (calls.py), so every metric exists on both,
and a change that helps large inputs but costs small ones shows as a
split between them.

``batch``: a pipeline run over large files. One pass calls every
operator once over the same large seeded tables and corpus, each a
multi-file dataset pinned in the cache. The calls here carry more of
their time in executor CPU and shuffle than on session: executor CPU as
a share of call wall x cores, measured on a 4-core machine, is 0.17
(overlap), 0.10 (coverage), 0.07 (closest) and 0.26 (jaccard), against
0.12, 0.03, 0.03 and 0.10 on session. So kernel, shuffle and
partition-sizing changes show here more than there; merge (0.04 and
0.02) stays driver-bound at this size.

``session``: an interactive session over many small files. Each
interval call reads its own small seeded sample, of a size fixed per
call (the quantiles of a log-uniform draw over 1k-20k intervals, one per
interval call), against a fixed 20k-interval annotation; the dedup call
reads a small corpus (141 documents, the middle of 50-400 on a log
scale). The annotation is pinned; each sample is its own parquet file.
The same functions take their small-input constructions here, and calls
spend their time in the driver (strategy selection, planning, eager
jobs) and in task scheduling, so driver-side changes show here.
"""

from __future__ import annotations

import os
from typing import NamedTuple

import numpy as np

import gen
from calls import CALLS


class Plan(NamedTuple):
    shared: dict   # view name -> parquet directory, same for every call
    pinned: tuple  # views read once and cached before timing
    inputs: list   # per call: {view: path} of the call's own inputs
    props: dict    # input properties recorded with the result


BATCH_A, BATCH_B, BATCH_P, BATCH_S = 120_000, 30_000, 30_000, 3_000
BATCH_DOCS = 1_000
# a large input arrives as a multi-file dataset, so its scan is split
# across the executor cores; a session sample is one small file
BATCH_FILES = 8
# session: a fixed annotation, and per call one sample of a fixed size,
# so every pass does the same work
ANNOTATION = 20_000
IVAL_SIZES = (1_000, 20_000)
DOC_SIZES = (50, 400)


def _sizes(lo, hi, k) -> list:
    """k fixed sizes: the midpoints of k equal log-strata of [lo, hi],
    i.e. the quantiles of a log-uniform draw. Fixed, so a pass does the
    same amount of work on every seed."""
    return [round(lo * (hi / lo) ** ((j + 0.5) / k)) for j in range(k)]


def batch(seed: int, out: str) -> Plan:
    rng = np.random.default_rng(seed)
    t = {"a": gen.table_a(rng, BATCH_A, 300),
         "b": gen.table_b(rng, BATCH_B, 300),
         "p": gen.table_ps(rng, BATCH_P, 300, "pid"),
         "s": gen.table_ps(rng, BATCH_S, 2000, "sid", unique=True)}
    shared = {k: gen.write(v, os.path.join(out, k), BATCH_FILES)
              for k, v in t.items()}
    props = {k: gen.interval_props(v) for k, v in t.items()}
    docs = gen.documents(rng, BATCH_DOCS)
    shared["documents"] = gen.write(docs, os.path.join(out, "documents"),
                                    BATCH_FILES)
    props["documents"] = gen.corpus_props(docs)
    return Plan(shared, tuple(shared), [{} for _ in CALLS], props)


def session(seed: int, out: str) -> Plan:
    rng = np.random.default_rng(seed)
    b = gen.table_b(rng, ANNOTATION, 300)
    shared = {"b": gen.write(b, os.path.join(out, "b")),
              "s": gen.write(gen.as_s(b), os.path.join(out, "s"))}
    n_docs, = _sizes(*DOC_SIZES, 1)
    interval_calls = [c for c in CALLS if "documents" not in c.tables]
    # largest first: closest, last, gets the smallest sample, as its
    # DuckDB oracle is quadratic per chromosome
    sizes = dict(zip((c.name for c in interval_calls),
                     _sizes(*IVAL_SIZES, len(interval_calls))[::-1]))
    inputs = []
    for call in CALLS:
        if "documents" in call.tables:
            t, v = gen.documents(rng, n_docs), "documents"
        elif "p" in call.tables:
            t, v = gen.table_ps(rng, sizes[call.name], 300, "pid"), "p"
        else:
            t, v = gen.table_a(rng, sizes[call.name], 300), "a"
        inputs.append({v: gen.write(t, os.path.join(out, call.name))})
    props = {"b": gen.interval_props(b),
             "sample_rows": {**sizes, "documents": n_docs}}
    return Plan(shared, ("b", "s"), inputs, props)


WORKLOADS = {"batch": batch, "session": session}
