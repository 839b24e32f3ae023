"""The call list: one entry per public operator the benchmark times.

Each call mirrors the registry query of the same shape in
``__spark_entry__.queries()`` (same arguments, same output columns), so
the registry's DuckDB oracle body for that query checks it unchanged.

One call per construction family: the interval join (``overlap``),
merge then join then aggregate (``coverage``), the gaps-and-islands
sweep with its eager strategy jobs (``merge``), the nearest-neighbour
kernel (``closest``) and the shingle self-join (``ngram_jaccard_pairs``).
Each call adds its DuckDB output check (up to ~3 s over the batch
inputs on a 4-core machine) and one timed call to every pass, and two
workloads x 22 runs must fit the benchmark's time budget, so the list
stops there. Left out: ``count_overlaps``, ``complement``,
``subtract`` and ``pileup`` (joins and sweeps the calls above already
run), and ``exact_duplicates``, ``minhash_lsh_pairs`` and
``connected_components``.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame

from bioframe_spark.datapipe import dedup
from bioframe_spark.operators import closest, ops

COORDS = ("chrom", "start", "end")


class Call(NamedTuple):
    name: str            # <module>.<function>, the per-layer metric prefix
    oracle: str          # key into __spark_entry__.oracle_sql()
    tables: tuple        # views the call and its oracle body read
    build: Callable[[dict], DataFrame]


CALLS = [
    Call("ops.overlap", "overlap_inner", ("a", "b"),
         lambda t: ops.overlap(t["a"], t["b"], how="inner",
                               suffixes=("", "_b"))),
    Call("ops.coverage", "coverage", ("a", "b"),
         lambda t: ops.coverage(t["a"], t["b"].select(*COORDS))),
    Call("ops.merge", "merge", ("a",),
         lambda t: ops.merge(t["a"].select(*COORDS), min_dist=0)),
    Call("closest.closest", "closest", ("p", "s"),
         lambda t: closest.closest(t["p"], t["s"], k=1,
                                   suffixes=("", "_s"))),
    Call("dedup.ngram_jaccard_pairs", "jaccard_pairs", ("documents",),
         lambda t: dedup.ngram_jaccard_pairs(t["documents"], n=3,
                                             threshold=0.5)),
]
