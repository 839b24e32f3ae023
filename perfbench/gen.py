"""Seeded input generator: NumPy in one process, parquet out.

Every table the benchmark's calls read is written here, with the column
names of the registry's oracle views (``a``, ``b``, ``s``, ``p``,
``documents``) so the DuckDB oracle bodies run unchanged over
the files. The same seed gives byte-identical files. The seed draws the
contents; the counts that set the amount of work (rows per chromosome,
long intervals, copies, cluster sizes, boilerplate carriers, document
lengths) are fixed, so the timings move little from seed to seed.

Interval properties that drive the engine's strategy choices:
- chromosome sizes follow hg38 (chr1-22, X, Y) scaled down by a fixed
  factor, and intervals fall on a chromosome in proportion to its length,
  so the chromosome keys are skewed (chr1 holds ~4x the rows of chr21);
- lengths are heavy-tailed: a log-normal body plus a fixed share of long
  intervals drawn log-uniformly.

Corpus properties that drive the dedup operators: a Zipf vocabulary,
exact copies, near-duplicate clusters (copies with a few token edits) and
shared boilerplate lines whose word shingles are hot (in many documents).
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HG38 = {
    "chr1": 248956422, "chr2": 242193529, "chr3": 198295559,
    "chr4": 190214555, "chr5": 181538259, "chr6": 170805979,
    "chr7": 159345973, "chr8": 145138636, "chr9": 138394717,
    "chr10": 133797422, "chr11": 135086622, "chr12": 133275309,
    "chr13": 114364328, "chr14": 107043718, "chr15": 101991189,
    "chr16": 90338345, "chr17": 83257441, "chr18": 80373285,
    "chr19": 58617616, "chr20": 64444167, "chr21": 46709983,
    "chr22": 50818468, "chrX": 156040895, "chrY": 57227415,
}
GENOME_SCALE = 100  # chromosome length divisor: hg38 chr1 -> 2.49 Mb
CHROMS = list(HG38)
CLENS = np.array([HG38[c] // GENOME_SCALE for c in CHROMS], dtype=np.int64)
LONG_FRACTION = 0.03


def _lengths(rng: np.random.Generator, n: int, median: int) -> np.ndarray:
    """Log-normal body around ``median`` plus exactly LONG_FRACTION long
    intervals, log-uniform over [10, 50] x median. The long count is
    fixed, not drawn, so the overlap output size barely moves with the
    seed."""
    body = np.exp(rng.normal(np.log(median), 0.7, n))
    n_long = int(round(n * LONG_FRACTION))
    idx = rng.choice(n, n_long, replace=False)
    body[idx] = median * np.exp(rng.uniform(np.log(10), np.log(50), n_long))
    return np.clip(body, 1, None).astype(np.int64)


def _shares(n: int, weights: np.ndarray) -> np.ndarray:
    """``n`` split in proportion to ``weights`` (largest remainder), so
    the per-chromosome row counts are the same on every seed."""
    exact = n * weights / weights.sum()
    out = np.floor(exact).astype(np.int64)
    out[np.argsort(out - exact)[:n - out.sum()]] += 1
    return out


def intervals(rng: np.random.Generator, n: int, median: int,
              unique: bool = False) -> dict:
    """``n`` intervals as columns chrom/start/end (sorted by chrom order,
    then start). ``unique`` redraws colliding (chrom, start, end) rows, so
    nearest-neighbour ties can only differ by coordinates."""
    ci = np.repeat(np.arange(len(CHROMS)), _shares(n, CLENS))
    ln = np.minimum(_lengths(rng, n, median), CLENS[ci] // 4)
    st = (rng.random(n) * (CLENS[ci] - ln)).astype(np.int64)
    if unique:
        key = (ci.astype(np.int64) << 40) | (st << 16) | np.minimum(ln, 65535)
        _, first = np.unique(key, return_index=True)
        dup = np.setdiff1d(np.arange(n), first)
        st[dup] = np.maximum(st[dup] - 1 - np.arange(len(dup)) % 7, 0)
    order = np.lexsort((st, ci))
    ci, st, ln = ci[order], st[order], ln[order]
    return {"chrom": np.array(CHROMS, dtype=object)[ci],
            "start": st, "end": st + ln}


def _strand(rng, n):
    return np.where(rng.random(n) < 0.5, "+", "-").astype(object)


def table_a(rng, n, median) -> pa.Table:
    iv = intervals(rng, n, median)
    return pa.table({
        "aid": np.arange(n, dtype=np.int64),
        "chrom": iv["chrom"], "start": iv["start"], "end": iv["end"],
        "strand": _strand(rng, n),
        "qty": rng.integers(1, 51, n, dtype=np.int64),
    })


def table_b(rng, n, median) -> pa.Table:
    iv = intervals(rng, n, median, unique=True)
    return pa.table({
        "bid": np.arange(n, dtype=np.int64),
        "chrom": iv["chrom"], "start": iv["start"], "end": iv["end"],
        "strand": _strand(rng, n),
    })


def table_ps(rng, n, median, id_col: str, unique=False) -> pa.Table:
    iv = intervals(rng, n, median, unique=unique)
    return pa.table({id_col: np.arange(n, dtype=np.int64), **iv})


def as_s(b: pa.Table) -> pa.Table:
    """The ``s`` (nearest-neighbour target) view of a ``b`` table."""
    return pa.table({"sid": b["bid"], "chrom": b["chrom"],
                     "start": b["start"], "end": b["end"]})


# -- corpus ---------------------------------------------------------------

VOCAB = 4000
BOILERPLATE = 6          # distinct shared lines
BOILER_SHARE = 0.25      # documents that carry one
EXACT_SHARE = 0.03       # exact copies of an earlier document
NEAR_SHARE = 0.15        # near-duplicates of an earlier document
CLUSTER = 4              # documents per duplicate cluster


def vocabulary(rng) -> np.ndarray:
    cons, vow = list("bcdfghklmnprstvz"), list("aeiou")
    out = set()
    while len(out) < VOCAB:
        k = int(rng.integers(2, 5))
        out.add("".join(cons[rng.integers(16)] + vow[rng.integers(5)]
                        for _ in range(k)))
    return np.array(sorted(out), dtype=object)


def documents(rng, n: int, words=None) -> pa.Table:
    """``n`` documents with the registry's ``documents`` schema, over the
    vocabulary ``words`` (drawn from ``rng`` when not given)."""
    if words is None:
        words = vocabulary(rng)
    zipf = 1.0 / np.arange(1, VOCAB + 1) ** 1.1
    zipf /= zipf.sum()
    boiler = [" ".join(rng.choice(words, 10, p=zipf))
              for _ in range(BOILERPLATE)]
    lens = rng.permutation(np.linspace(30, 120, n).astype(np.int64))
    toks = rng.choice(VOCAB, int(lens.sum()), p=zipf)
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(words[t]) for t in np.split(toks, cuts)]
    # a fixed number of exact copies, near-duplicates and boilerplate
    # carriers, and clusters of a fixed size (a source in the first
    # quarter of the corpus plus CLUSTER - 1 copies from the rest), so
    # the join fan-out barely moves with the seed
    n_exact, n_near = round(n * EXACT_SHARE), round(n * NEAR_SHARE)
    q = n // 4
    copies = q + rng.permutation(n - q)[:n_exact + n_near]
    sources = rng.permutation(q)[:max(len(copies) // (CLUSTER - 1), 1)]
    for c, i in enumerate(copies):
        j = sources[c % len(sources)]
        if c < n_exact:
            texts[i] = texts[j]
        else:
            t = texts[j].split(" ")
            for pos in rng.integers(0, len(t), max(len(t) // 25, 1)):
                t[pos] = words[rng.integers(VOCAB)]
            texts[i] = " ".join(t)
    has_bp = np.zeros(n, dtype=bool)
    has_bp[rng.permutation(n)[:round(n * BOILER_SHARE)]] = True
    which = np.arange(n) % BOILERPLATE
    texts = [t + " " + boiler[w] if b else t
             for t, b, w in zip(texts, has_bp, which)]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": ["en"] * n,
        "source": [f"src{k}" for k in rng.integers(0, 4, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


# -- properties -----------------------------------------------------------

def interval_props(t: pa.Table) -> dict:
    ln = (t["end"].to_numpy() - t["start"].to_numpy())
    counts = Counter(t["chrom"].to_pylist())
    return {
        "rows": t.num_rows,
        "len_p50": int(np.percentile(ln, 50)),
        "len_p99": int(np.percentile(ln, 99)),
        "len_max": int(ln.max()),
        "long_frac": round(float(np.mean(ln >= 10 * np.median(ln))), 4),
        "chrom_max_over_min": round(max(counts.values())
                                    / min(counts.values()), 2),
    }


def corpus_props(t: pa.Table, n: int = 3) -> dict:
    texts = t["text"].to_pylist()
    df = Counter()
    for txt in texts:
        w = txt.split(" ")
        df.update({" ".join(w[i:i + n]) for i in range(len(w) - n + 1)})
    hot = max(int(0.01 * len(texts)), 5)
    return {
        "rows": len(texts),
        "dup_frac": round(1 - len(set(texts)) / len(texts), 4),
        "hot_shingles": sum(1 for c in df.values() if c > hot),
        "hot_threshold_docs": hot,
    }


def write(table: pa.Table, path: str, files: int = 1) -> str:
    """Write ``table`` as ``files`` parquet parts (consecutive row ranges)
    in the directory ``path``; returns the directory."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:03d}.parquet"))
    return path
