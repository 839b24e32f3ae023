"""Readers/writers for genomic tabular formats, Spark-native.

Parity targets: ``read_table`` (reference ``io/fileops.py:42-83``),
``read_chromsizes`` (``:86-160``), ``to_bed`` + validators
(``io/bed.py:127-738``). gzip is handled natively by Spark's text codecs;
the named-schema dispatch mirrors ``SCHEMAS`` (``io/schemas.py:174-198``).

Executor-side indexed formats (tabix/BAM/bigWig) follow the reference's
optional-dependency pattern (``io/fileops.py:14-21``): the partition-level
plumbing is here, the pysam/pybigtools calls are gated behind try-imports
and raise a clear error when the library is absent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.construction import local_df
from .schemas import SCHEMAS, infer_bed_schema
from ..functions.intervals import natsort_key


def _spark() -> SparkSession:
    return SparkSession.active()


def read_table(path: str, schema: str | None = "bed3", sep: str = "\t",
               comment: str = "#", header: bool = False) -> DataFrame:
    """Read a genomic text table with a named schema (no inference pass).

    ``schema`` is a key of ``SCHEMAS`` ('bed6', 'gtf', 'narrowPeak', …) or
    None for inference. Compressed inputs (.gz) decode natively.
    """
    reader = (
        _spark().read.option("sep", sep).option("comment", comment)
        .option("header", str(header).lower())
    )
    if schema is None:
        return reader.option("inferSchema", "true").csv(path)
    if schema not in SCHEMAS:
        raise ValueError(f"unknown schema {schema!r}; have {sorted(SCHEMAS)}")
    return reader.schema(SCHEMAS[schema]).csv(path)


def read_chromsizes(path: str, filter_chroms: bool = True,
                    chrom_patterns=(r"^chr[0-9]+$", r"^chr[XY]$", r"^chrM$"),
                    natsort: bool = True, as_bed: bool = False) -> DataFrame:
    """UCSC chrom.sizes → (chrom, length) with pattern capture + natural
    sort (reference ``io/fileops.py:86-160``).

    ``chrom_patterns`` may be a sequence of regexes or an assembly name
    (a key of ``CHROM_NAME_PATTERNS``, e.g. ``"hg38"`` — reference
    ``io/schemas.py:201-267``). Matching the reference's concat-of-parts
    semantics: rows matching pattern i sort before rows matching pattern
    i+1 (first match wins for rows matching several patterns), natural
    order within each group when ``natsort``. ``as_bed`` returns
    (chrom, start, end) instead of (chrom, length).
    """
    from .schemas import CHROM_NAME_PATTERNS

    if isinstance(chrom_patterns, str):
        if chrom_patterns not in CHROM_NAME_PATTERNS:
            raise ValueError(
                f"no chromosome patterns for assembly {chrom_patterns!r}; "
                f"have {sorted(CHROM_NAME_PATTERNS)}"
            )
        chrom_patterns = CHROM_NAME_PATTERNS[chrom_patterns]
    df = read_table(path, schema="chromsizes")
    if filter_chroms:
        grp = F.lit(None).cast("int")
        for i, pat in reversed(list(enumerate(chrom_patterns))):
            if not len(pat):
                continue
            grp = F.when(F.col("chrom").rlike(pat), F.lit(i)).otherwise(grp)
        df = df.withColumn("__grp", grp).filter(F.col("__grp").isNotNull())
        order = [F.col("__grp")]
        if natsort:
            order.append(natsort_key(F.col("chrom")))
        df = df.orderBy(*order).drop("__grp")
    elif natsort:
        df = df.orderBy(natsort_key(F.col("chrom")))
    if as_bed:
        df = df.select(
            F.col("chrom"), F.lit(0).cast("long").alias("start"),
            F.col("length").alias("end"),
        )
    return df


def chromsizes_dict(df: DataFrame) -> dict:
    """Collect a chromsizes frame to a driver-side {chrom: length} dict."""
    return {r["chrom"]: r["length"] for r in df.collect()}


# --------------------------------------------------------------------------
# BED writer + validator queries (reference io/bed.py)
# --------------------------------------------------------------------------

BED_FIELD_VALIDATORS: dict[str, str] = {
    # column → boolean SQL predicate that must hold on every non-null row
    "chrom": "chrom rlike '^[A-Za-z0-9_]{1,255}$'",
    "start": "start >= 0",
    "end": "end >= 0 AND end >= start",
    "name": "length(name) BETWEEN 1 AND 255",
    "score": "score BETWEEN 0 AND 1000",
    "strand": "strand IN ('+','-','.')",
    "thickStart": "thickStart >= 0",
    "thickEnd": "thickEnd >= 0",
    "itemRgb": "itemRgb = '0' OR itemRgb rlike '^\\\\d{1,3},\\\\d{1,3},\\\\d{1,3}$'",
    "blockCount": "blockCount > 0",
}

BED_FIELD_FILLVALUES = {
    "name": ".",
    "score": "0",
    "strand": ".",
    "thickStart": None,   # filled from start
    "thickEnd": None,     # filled from end
    "itemRgb": "0",
}


def validate_bed(df: DataFrame, raise_errors: bool = True) -> dict[str, int]:
    """Run the per-field validator queries; returns violation counts.

    Mirrors the reference's 12 per-field validators + block structure
    checks (``io/bed.py:127-543``) as aggregate filters — one job, no
    collect of data rows.
    """
    bad: dict[str, int] = {}
    for colname, pred in BED_FIELD_VALIDATORS.items():
        if colname not in df.columns:
            continue
        n = df.filter(F.col(colname).isNotNull()).filter(f"NOT ({pred})").count()
        if n:
            bad[colname] = n
    # block structure: counts match, first block at 0, blocks within interval
    if {"blockCount", "blockSizes", "blockStarts"} <= set(df.columns):
        sizes = F.split(F.regexp_replace("blockSizes", ",$", ""), ",")
        starts = F.split(F.regexp_replace("blockStarts", ",$", ""), ",")
        viol = (
            (F.size(sizes) != F.col("blockCount"))
            | (F.size(starts) != F.col("blockCount"))
            | (F.element_at(starts, 1).cast("long") != 0)
            | (
                F.element_at(starts, -1).cast("long")
                + F.element_at(sizes, -1).cast("long")
                != F.col("end") - F.col("start")
            )
        )
        n = df.filter(F.col("blockCount").isNotNull()).filter(viol).count()
        if n:
            bad["blocks"] = n
    if bad and raise_errors:
        raise ValueError(f"BED validation failed: {bad}")
    return bad


def to_bed(df: DataFrame, path: str | None = None, schema: str = "infer",
           validate: bool = True, sort: bool = True,
           single_file: bool = True, **kwargs) -> DataFrame:
    """Write a BED file — delegates to the full-parity validator suite in
    :mod:`bioframe_spark.sources.bed` (reference ``io/bed.py:685-738``).

    Extra ``kwargs`` (chromsizes, strict_score, replace_na,
    require_sorted) pass through to :func:`bed.to_bed`.
    """
    from . import bed as _bed

    # legacy 'bedN' strings map onto the parity parser's schema names
    return _bed.to_bed(
        df, path, schema=schema or "infer", validate_fields=validate,
        sort=sort, single_file=single_file, **kwargs
    )


# --------------------------------------------------------------------------
# GTF attributes (reference sandbox/gtf_io.py:4-16)
# --------------------------------------------------------------------------

def parse_gtf_attributes(df: DataFrame, attr_col: str = "attributes",
                         keys: list[str] | None = None) -> DataFrame:
    """Parse ``k "v"; k2 "v2";`` GTF attribute strings into columns via
    ``str_to_map`` — pure SQL, no UDF."""
    cleaned = F.regexp_replace(F.col(attr_col), r'"', "")
    m = F.expr(
        f"str_to_map(regexp_replace({attr_col}, '\"', ''), '; *', ' ')"
    )
    out = df.withColumn("__attrs", m)
    for k in keys or []:
        out = out.withColumn(k, F.col("__attrs").getItem(k))
    return out.drop("__attrs") if keys else out.withColumnRenamed("__attrs", "attrs_map")


# --------------------------------------------------------------------------
# executor-side indexed formats (reference io/fileops.py:163-486)
#
# Design: the REGIONS→PARTITIONS scaffold is real Spark plumbing (one
# region per partition, Arrow-batched mapInPandas, stable schema) and is
# testable with any injectable *engine* — a picklable callable
# ``(path, chrom, start, end) -> pandas.DataFrame``. Only the default
# engines touch the optional libraries (pysam / pyBigWig), imported
# lazily EXECUTOR-side, mirroring the reference's optional-dependency
# pattern (``io/fileops.py:14-21``) and the fasta_provider pattern
# (``operators/sequence.py:29-51``).
# --------------------------------------------------------------------------

def _fetch_by_region(path: str, regions: list[tuple], engine, out_schema: str,
                     what: str) -> DataFrame:
    """regions → one partition each → ``engine(path, chrom, start, end)``
    per region → Arrow batches with *out_schema*. Positional columns from
    an engine are renamed to the schema's names; missing columns are
    null-filled."""
    from pyspark.sql import types as T

    if not regions:
        raise ValueError(f"{what}: regions must be a non-empty list of tuples")
    rows = []
    for r in regions:
        chrom, start, end = (tuple(r) + (None, None))[:3]
        rows.append((
            str(chrom),
            None if start is None else int(start),
            None if end is None else int(end),
        ))
    rdf = local_df(rows, "chrom string, start long, end long"
                   ).repartition(len(rows))
    schema_obj = (T.StructType.fromDDL(out_schema)
                  if isinstance(out_schema, str) else out_schema)
    fields = schema_obj.fieldNames()

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            for row in pdf.itertuples(index=False):
                start = None if pd.isna(row.start) else int(row.start)
                end = None if pd.isna(row.end) else int(row.end)
                out = engine(path, row.chrom, start, end)
                if out is None or len(out) == 0:
                    continue
                if list(out.columns) != fields:
                    if len(out.columns) == len(fields):
                        out = out.set_axis(fields, axis=1)
                    else:
                        out = out.reindex(columns=fields)
                yield out

    return rdf.mapInPandas(gen, schema_obj)


def pysam_tabix_engine(columns: list | None = None):
    """Default ``read_tabix`` engine: one pysam.TabixFile per fetch
    (reference ``io/fileops.py:163-180``)."""
    def fetch(path, chrom, start, end):
        import io as _io

        import pandas as pd

        try:
            import pysam
        except ImportError as e:
            raise ImportError("the default read_tabix engine requires pysam") from e
        f = pysam.TabixFile(path)
        try:
            names = columns or (list(f.header) or None)
            lines = list(f.fetch(chrom, start, end))
        finally:
            f.close()
        if not lines:
            return None
        return pd.read_csv(_io.StringIO("\n".join(lines)), sep="\t",
                           header=None, names=names)

    return fetch


def read_tabix(path: str, regions: list[tuple], schema: str = "bed3",
               engine=None) -> DataFrame:
    """Region-indexed fetch from a bgzip/tabix file, one region per
    partition (reference ``io/fileops.py:163-180``). ``schema`` is a
    ``SCHEMAS`` key or a DDL string; ``engine`` overrides the pysam
    default (see module section doc)."""
    sch = SCHEMAS[schema] if schema in SCHEMAS else schema
    return _fetch_by_region(path, regions, engine or pysam_tabix_engine(),
                            sch, "read_tabix")


def pypairix_engine(columns: list | None = None):
    """Default ``read_pairix`` engine (reference ``io/fileops.py:183-235``):
    a 2-D block query per (region1, region2) pair."""
    def fetch(path, block):
        import pandas as pd

        try:
            import pypairix
        except ImportError as e:
            raise ImportError("the default read_pairix engine requires pypairix") from e
        (c1, s1, e1), (c2, s2, e2) = block
        f = pypairix.open(path, "r")
        records = list(f.query2D(c1, s1, e1, c2, s2, e2))
        if not records:
            return None
        return pd.DataFrame.from_records(records, columns=columns)

    return fetch


def read_pairix(path: str, blocks2d: list[tuple], schema: str =
                "chrom1 string, pos1 long, chrom2 string, pos2 long",
                engine=None) -> DataFrame:
    """2-D block queries from a pairix-indexed pairs file (reference
    ``io/fileops.py:183-235``): one (region1, region2) block per
    partition; ``engine(path, block)`` returns the block's records."""
    eng = engine or pypairix_engine()
    # reuse the region scaffold by packing the 2-D block into the chrom
    # slot of a synthetic 1-D region list
    blocks = list(blocks2d)

    def unpack(path_, chrom, start, end):
        i = int(chrom)
        return eng(path_, blocks[i])

    fake_regions = [(str(i), None, None) for i in range(len(blocks))]
    return _fetch_by_region(path, fake_regions, unpack, schema, "read_pairix")


def pybigwig_engine(kind: str = "bigwig"):
    """Default engine for ``read_bigwig`` / ``read_bigbed`` (reference
    ``io/fileops.py:379-486``, pyBigWig branch)."""
    def fetch(path, chrom, start, end):
        import pandas as pd

        try:
            import pyBigWig
        except ImportError as e:
            raise ImportError(
                "the default read_bigwig/read_bigbed engine requires pyBigWig"
            ) from e
        f = pyBigWig.open(path)
        try:
            if start is None:
                start = 0
            if end is None:
                end = f.chroms()[chrom]
            if kind == "bigwig":
                ivals = f.intervals(chrom, int(start), int(end)) or []
                out = pd.DataFrame(ivals, columns=["start", "end", "value"])
            else:
                ents = f.entries(chrom, int(start), int(end)) or []
                out = pd.DataFrame(ents, columns=["start", "end", "rest"])
        finally:
            f.close()
        out.insert(0, "chrom", chrom)
        return out

    return fetch


def read_bigwig(path: str, regions: list[tuple], engine=None) -> DataFrame:
    """bigWig value intervals, one region per partition (reference
    ``io/fileops.py:379-432``) → (chrom, start, end, value)."""
    return _fetch_by_region(
        path, regions, engine or pybigwig_engine("bigwig"),
        "chrom string, start long, end long, value double", "read_bigwig",
    )


def read_bigbed(path: str, regions: list[tuple], engine=None) -> DataFrame:
    """bigBed entries, one region per partition (reference
    ``io/fileops.py:434-486``) → (chrom, start, end, rest)."""
    return _fetch_by_region(
        path, regions, engine or pybigwig_engine("bigbed"),
        "chrom string, start long, end long, rest string", "read_bigbed",
    )


def pysam_alignments_engine():
    """Default ``read_alignments`` engine (reference
    ``io/fileops.py:238-282``): pysam fetch → 12-column SAM frame, tags
    JSON-encoded."""
    def fetch(path, chrom, start, end):
        import json
        import os
        from array import array

        import pandas as pd

        try:
            import pysam
        except ImportError as e:
            raise ImportError("the default read_alignments engine requires pysam") from e
        ext = os.path.splitext(path)[1]
        mode = {".sam": "r", ".bam": "rb", ".cram": "rc"}.get(ext)
        if mode is None:
            raise ValueError(f"{ext} is not a supported alignment filetype")
        f = pysam.AlignmentFile(path, mode)
        try:
            records = []
            for s in f.fetch(chrom, start, end):
                tags = [(k, v.tolist() if isinstance(v, array) else v)
                        for k, v in s.tags]
                records.append((
                    s.qname, s.flag, s.reference_name, s.pos, s.mapq,
                    s.cigarstring if s.mapq != 0 else None,
                    s.rnext, s.pnext, s.tlen, s.seq, s.qual,
                    json.dumps(dict(tags)),
                ))
        finally:
            f.close()
        if not records:
            return None
        return pd.DataFrame.from_records(records)

    return fetch


ALIGNMENT_SCHEMA = (
    "QNAME string, FLAG int, RNAME string, POS long, MAPQ int, CIGAR string, "
    "RNEXT long, PNEXT long, TLEN long, SEQ string, QUAL string, TAGs string"
)


def read_alignments(path: str, regions: list[tuple], engine=None) -> DataFrame:
    """SAM/BAM/CRAM → 12-column frame (reference ``io/fileops.py:238-289``,
    same field list as the reference's BAM_FIELDS), one (chrom, start,
    end) shard per partition."""
    return _fetch_by_region(path, regions, engine or pysam_alignments_engine(),
                            ALIGNMENT_SCHEMA, "read_alignments")


def read_bam(path: str, regions: list[tuple], engine=None) -> DataFrame:
    """Deprecated reference alias (``io/fileops.py:284-289``): use
    :func:`read_alignments`."""
    return read_alignments(path, regions, engine)


def prepare_bedgraph(df: DataFrame, chromsizes: dict,
                     value_col: str | None = None) -> DataFrame:
    """Spark-side prep for the bigWig sink (reference
    ``io/fileops.py:515-593``): validate bedGraph shape, clamp to known
    chromosomes, verify bounds and non-overlap (``bedGraphToBigWig``
    rejects overlapping input), and return the 4-column frame sorted by
    (chrom, start, end).

    All heavy work (validation scans, the sort) is distributed; only the
    final text write is single-writer by format convention.
    """
    for col in ("chrom", "start", "end"):
        if col not in df.columns:
            raise ValueError(f"A bedGraph-like DataFrame is required, got {df.columns}")
    if len(df.columns) < 4:
        raise ValueError("bedGraph needs chrom, start, end + a value column")
    if value_col is None:
        value_col = df.columns[3]
    bg = df.select("chrom", "start", "end", F.col(value_col).alias(value_col))

    from pyspark.sql import types as T
    cs = local_df(
        [(str(c), int(s)) for c, s in chromsizes.items()],
        T.StructType.fromDDL("__c string, __size long"),
    )
    j = bg.join(F.broadcast(cs), bg["chrom"] == F.col("__c"), "left")
    n_bad = j.filter(
        F.col("__size").isNull() | (F.col("start") < 0)
        | (F.col("end") > F.col("__size")) | (F.col("start") >= F.col("end"))
    ).limit(1).count()
    if n_bad:
        raise ValueError("bedGraph rows out of chromsizes bounds or malformed")
    from pyspark.sql import Window as _W

    w = _W.partitionBy("chrom").orderBy("start", "end")
    prev_end = F.lag("end").over(w)
    n_over = (
        bg.withColumn("__pe", prev_end)
        .filter(F.col("__pe").isNotNull() & (F.col("start") < F.col("__pe")))
        .limit(1).count()
    )
    if n_over:
        raise ValueError("bedGraph intervals overlap; merge/pileup them first")
    return bg.orderBy("chrom", "start", "end")


def write_bedgraph(df: DataFrame, path: str, chromsizes: dict,
                   value_col: str | None = None) -> str:
    """Write the prepped bedGraph as one sorted TSV part plus a
    ``chrom.sizes`` sibling — the exact inputs ``bedGraphToBigWig``
    consumes. Returns the bedGraph directory path."""
    bg = prepare_bedgraph(df, chromsizes, value_col)
    bg.coalesce(1).write.mode("overwrite").option("sep", "\t").csv(path)
    import os

    with open(os.path.join(path, "chrom.sizes"), "w") as fh:
        for c, s in chromsizes.items():
            fh.write(f"{c}\t{int(s)}\n")
    return path


def _bedgraph_part(path: str) -> str:
    import glob
    import os

    parts = sorted(glob.glob(os.path.join(path, "part-*.csv"))) or sorted(
        glob.glob(os.path.join(path, "part-*"))
    )
    return parts[0]


def to_bigwig(df: DataFrame, chromsizes: dict, out_path: str,
              value_col: str | None = None, engine: str = "auto",
              path_to_binary: str | None = None) -> None:
    """bedGraph → bigWig sink (reference ``io/fileops.py:515-593``).

    Spark prepares and writes the sorted bedGraph + chrom.sizes
    (:func:`write_bedgraph`, fully distributed up to the final text
    write); the binary encode is the UCSC ``bedGraphToBigWig`` CLI or
    pybigtools on the driver — a single-writer step by format design.
    """
    import shutil
    import subprocess
    import tempfile

    tmp = tempfile.mkdtemp(prefix="bg_prep_")
    bg_dir = write_bedgraph(df, tmp, chromsizes, value_col)
    part, sizes = _bedgraph_part(bg_dir), f"{bg_dir}/chrom.sizes"

    cli = path_to_binary or shutil.which("bedGraphToBigWig")
    if engine in ("auto", "ucsc") and cli:
        subprocess.run([cli, part, sizes, out_path], check=True)
        return
    try:
        import pybigtools
    except ImportError:
        raise NotImplementedError(
            "no bigWig encoder available (need the UCSC bedGraphToBigWig CLI "
            f"or pybigtools); prepped bedGraph left at {part}"
        ) from None
    f = pybigtools.open(out_path, "w")
    with open(part) as fh:
        f.write(
            chroms={c: int(s) for c, s in chromsizes.items()},
            vals=(
                (p[0], int(p[1]), int(p[2]), float(p[3]))
                for p in (line.rstrip("\n").split("\t") for line in fh)
            ),
        )
    f.close()


def to_bigbed(df: DataFrame, chromsizes: dict, out_path: str,
              schema: str = "infer", engine: str = "auto",
              path_to_binary: str | None = None) -> None:
    """BED → bigBed sink (reference ``io/fileops.py:596-669``): full BED
    validation (:mod:`.bed`), chromsizes bounds, sorted single-part text,
    then the UCSC ``bedToBigBed`` CLI on the driver."""
    import os
    import shutil
    import subprocess
    import tempfile

    from . import bed as _bed

    coerced = _bed.to_bed_dataframe(df, schema=schema, chromsizes=chromsizes)
    tmp = tempfile.mkdtemp(prefix="bb_prep_")
    (coerced.orderBy("chrom", "start", "end").coalesce(1)
     .write.mode("overwrite").option("sep", "\t").csv(tmp))
    sizes = os.path.join(tmp, "chrom.sizes")
    with open(sizes, "w") as fh:
        for c, s in chromsizes.items():
            fh.write(f"{c}\t{int(s)}\n")
    part = _bedgraph_part(tmp)

    cli = path_to_binary or shutil.which("bedToBigBed")
    if engine in ("auto", "ucsc") and cli:
        subprocess.run([cli, part, sizes, out_path], check=True)
        return
    raise NotImplementedError(
        "no bigBed encoder available (need the UCSC bedToBigBed CLI); "
        f"prepped sorted BED left at {part}"
    )


def read_parquet(spark, path: str) -> DataFrame:
    """Reference-name alias (``sandbox/parquet_io.py``): plain parquet
    scan — Spark-side, predicate/column pushdown comes free."""
    return spark.read.parquet(path)


def to_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Reference-name alias (``sandbox/parquet_io.py``): plain parquet
    write; see :func:`to_parquet_partitioned` for the pruned layout."""
    df.write.mode(mode).parquet(path)


def to_parquet_partitioned(df: DataFrame, path: str, by: str = "chrom",
                           sort_within: bool = True, cols=None) -> None:
    """Write an interval table partitioned by chromosome with rows sorted
    within files — the layout that makes ``select(region)`` a
    partition-pruned, row-group-pruned scan (see SCALING.md §5)."""
    from ..core.specs import _resolve_cols

    ck, sk, ek = _resolve_cols(cols)
    out = df
    if sort_within:
        out = out.sortWithinPartitions(ck, sk, ek)
    out.write.mode("overwrite").partitionBy(by).parquet(path)


def write_bucketed(df: DataFrame, table: str, num_buckets: int = 64,
                   bucket_cols=("chrom",), sort_cols=("start", "end"),
                   path: str | None = None, mode: str = "overwrite") -> None:
    """Persist an interval table bucketed (and sorted) by join key — the
    co-located-join layout for RECURRING joins at scale: two tables
    bucketed by the same columns into the same bucket count join with NO
    exchange on either side (Spark reads matching buckets pairwise), and
    the in-file sort feeds SortMergeJoin without a sort step. At 100 TB
    this converts every repeated `overlap`-by-chrom / `trim` /
    `assign_view` against the same dimension into a scan-local join.

    Bucketing requires the table catalog (``saveAsTable``); pass ``path``
    to store the files at an explicit location (external table). The
    binned join strategy keys on (chrom, bin), so pre-bucket by those
    columns — e.g. ``bucket_cols=("chrom", "bin")`` after a
    ``with_bin()`` projection — when the binned path is the recurring
    shape."""
    w = (df.write.format("parquet").mode(mode)
         .bucketBy(num_buckets, *bucket_cols).sortBy(*sort_cols))
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def write_prebinned(df: DataFrame, table: str, bin_size: int = 10_000,
                    num_buckets: int = 32, path: str | None = None,
                    cols=None, hi: int | None = None) -> None:
    """The canonical pre-binned recurring-join layout in one call:
    ``with_bin(df, bin_size, hi=hi)`` persisted
    ``bucketBy(num_buckets, chrom, bin) + sortBy(start, end)``.
    Tables join via :func:`..operators.ops.overlap_prebinned` with zero
    Exchange ONLY when written with the SAME ``bin_size``, origin 0,
    ``num_buckets``, AND ``hi`` end-clip — a sentinel-end row clipped to
    fewer bins on one side than the grid its partner was built on
    silently loses pairs, so ``hi`` (the genome bound for tables that
    carry unbounded sentinel ends) is part of the shared-grid contract,
    not a per-table tuning knob. One definition so the gate query, the
    benchmark, and the scale ladder all measure the exact layout users
    get."""
    from ..core.specs import _resolve_cols
    from ..operators.ops import INT64_MAX, with_bin

    ck, sk, ek = _resolve_cols(cols)
    write_bucketed(with_bin(df, bin_size, cols=cols,
                            hi=INT64_MAX if hi is None else hi),
                   table, num_buckets=num_buckets, bucket_cols=(ck, "bin"),
                   sort_cols=(sk, ek), path=path)
