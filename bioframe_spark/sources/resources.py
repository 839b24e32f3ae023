"""Remote genomic resources (reference ``io/resources.py``).

The reference fetches chromsizes / centromeres / cytobands / mRNA tables
over HTTP from UCSC (``resources.py:20-296``). This build intentionally
performs NO network I/O: packaged assembly data (``assembly.py``) covers
``fetch_chromsizes``; the HTTP surfaces below keep the reference's call
signatures and raise a clear error, so swapping in a networked
implementation is a drop-in change.
"""

from __future__ import annotations

from .assembly import fetch_chromsizes as _packaged_chromsizes


class NetworkDisabled(RuntimeError):
    pass


def fetch_chromsizes(db: str, provider: str = "ucsc", **_kw) -> dict:
    """Chromsizes for an assembly — served from packaged data; the
    reference additionally falls back to a UCSC HTTP fetch."""
    return _packaged_chromsizes(db, provider)


def centromeres_from_cytoband(cyb, band_col: str = "gieStain"):
    """Centromere origins from a cytoband table (reference
    ``resources.py:109-142`` ``_origins_from_cytoband``): per chromosome,
    the two 'acen' bands define (start, end) and their boundary is ``mid``.

    *cyb* is a Spark DataFrame with (chrom, start, end, *band_col*) —
    e.g. ``read_table(path, schema='cytoband')``. One aggregation job; a
    chromosome with an 'acen' band count other than 2 raises (same
    contract as the reference).
    """
    from pyspark.sql import functions as F

    acen = cyb.filter(F.col(band_col) == "acen")
    g = acen.groupBy("chrom").agg(
        F.count(F.lit(1)).alias("__n"),
        F.min("start").alias("start"),
        F.max("end").alias("end"),
        # mid = end of the band with the smaller start (the p/q boundary)
        F.min_by("end", "start").alias("mid"),
    )
    bad = [r["chrom"] for r in g.filter(F.col("__n") != 2).select("chrom").collect()]
    if bad:
        raise ValueError(f"Expected 2 'acen' bands, found otherwise for: {bad}")
    return g.select("chrom", "start", "end", "mid")


def centromeres_from_ucsccentromeres(cens):
    """Centromere origins from a UCSC centromeres.txt table (reference
    ``resources.py:145-168``): per chromosome span + midpoint."""
    from pyspark.sql import functions as F

    g = cens.groupBy("chrom").agg(
        F.min("start").alias("start"), F.max("end").alias("end")
    )
    return g.select(
        "chrom", "start", "end",
        ((F.col("start") + F.col("end")) / 2).cast("long").alias("mid"),
    )


def fetch_centromeres(db: str, provider: str = "local", cytoband_path: str | None = None):
    """Centromere positions (reference ``resources.py:171-242``).

    ``provider='local'`` + ``cytoband_path``: derive centromeres from a
    local cytoband file (the reference's packaged-cytoband path) — no
    network. ``provider='ucsc'`` needs the UCSC HTTP endpoints, disabled
    in this build.
    """
    if provider == "local":
        if cytoband_path is None:
            # packaged acen-band facts (public UCSC cytoBand data) cover
            # the assemblies the reference ships cytoband tables for
            from pyspark.sql import types as T

            from ..core.construction import local_df
            from ._assembly_data import ACEN_BANDS, ALIASES

            db = ALIASES.get(db, db)
            if db not in ACEN_BANDS:
                raise ValueError(
                    f"no packaged cytobands for {db!r} (have "
                    f"{sorted(ACEN_BANDS)}); pass cytoband_path="
                )
            cyb = local_df(
                [(c, s, e, n, "acen") for c, s, e, n in ACEN_BANDS[db]],
                T.StructType.fromDDL(
                    "chrom string, start long, end long, "
                    "name string, gieStain string"),
            )
            return centromeres_from_cytoband(cyb)
        from .fileops import read_table

        return centromeres_from_cytoband(
            read_table(cytoband_path, schema="cytoband")
        )
    raise NetworkDisabled(
        "fetch_centromeres(provider='ucsc') needs UCSC HTTP access (disabled "
        "in this build); pass provider='local' with cytoband_path= instead"
    )


class UCSCClient:
    """Signature-compatible stand-in for the reference's UCSCClient
    (``resources.py:245-296``); every fetch raises NetworkDisabled."""

    def __init__(self, db: str):
        self._db = db

    def _no(self, what: str):
        raise NetworkDisabled(f"UCSCClient.{what}: network disabled in this build")

    def fetch_chromsizes(self):
        return fetch_chromsizes(self._db)

    def fetch_centromeres(self):
        return fetch_centromeres(self._db, provider="local")

    def fetch_gaps(self, path: str | None = None):
        """Assembly gap track (reference ``resources.py:273-281`` reads
        UCSC ``gap.txt.gz`` with schema='gap' and keeps
        chrom/start/end/length/type/bridge).

        ``path=``: a local ``gap.txt(.gz)`` — full track, no network.
        Default: the DERIVED packaged subset — the telomere gaps (the
        UCSC convention of 10 kb at each chromosome end, clipped for
        short chromosomes) and the centromere gap (the packaged acen-band
        span) for assemblies with packaged chromsizes. A labeled sample
        of the real track's dominant rows, not the full gap set."""
        cols = ["chrom", "start", "end", "length", "type", "bridge"]
        if path is not None:
            from .fileops import read_table

            return read_table(path, schema="gap").select(*cols)
        from pyspark.sql import types as T

        from ..core.construction import local_df
        from ._assembly_data import ACEN_BANDS, ALIASES, CHROMSIZES

        db = ALIASES.get(self._db, self._db)
        if db not in CHROMSIZES:
            self._no("fetch_gaps (no packaged chromsizes for "
                     f"{db!r}; pass path=)")
        rows = []
        for chrom, clen in CHROMSIZES[db].items():
            tel = min(10_000, clen // 2)
            if tel:
                rows.append((chrom, 0, tel, tel, "telomere", "no"))
                rows.append((chrom, clen - tel, clen, tel, "telomere", "no"))
        acen = {}
        for chrom, s, e, _name in ACEN_BANDS.get(db, []):
            lo, hi = acen.get(chrom, (s, e))
            acen[chrom] = (min(lo, s), max(hi, e))
        for chrom, (s, e) in acen.items():
            rows.append((chrom, s, e, e - s, "centromere", "no"))
        return local_df(
            sorted(rows),
            T.StructType.fromDDL(
                "chrom string, start long, end long, length long, "
                "type string, bridge string"),
        )

    def fetch_cytoband(self):
        """Packaged acen bands only (the full track needs HTTP)."""
        from pyspark.sql import types as T

        from ..core.construction import local_df
        from ._assembly_data import ACEN_BANDS, ALIASES

        db = ALIASES.get(self._db, self._db)
        if db not in ACEN_BANDS:
            self._no("fetch_cytoband")
        return local_df(
            [(c, s, e, n, "acen") for c, s, e, n in ACEN_BANDS[db]],
            T.StructType.fromDDL(
                "chrom string, start long, end long, "
                "name string, gieStain string"),
        )

    def fetch_mrna(self, path: str | None = None, sample: bool = False):
        """mRNA alignment table (reference ``resources.py:289-296`` reads
        UCSC ``all_mrna.txt.gz`` with the all_mrna schema).

        ``path=``: a local ``all_mrna.txt(.gz)`` — the full track, no
        network. Default (``sample=False``): the empty, correctly-typed
        frame — the reference returns real UCSC data or nothing, and
        synthetic rows must never silently replace "nothing" (r5
        ADVICE: the sample is strictly OPT-IN). ``sample=True``: a
        deterministic, clearly-LABELED SAMPLE table (qName =
        ``SAMPLE_mRNA_*``) for assemblies with packaged chromsizes —
        mRNA alignments are per-accession experimental data with no
        derivable packaged form, so offline the choices are an empty
        frame or labeled synthetic rows; the sample keeps every
        downstream plan (joins, select, PSL arithmetic) runnable and
        schema-exact without fabricating real accessions. Three
        single-block alignments per chromosome at fixed fractions of its
        length, internally-consistent PSL fields (matches = aligned bp,
        qSize = qEnd, blockSizes/qStarts/tStarts comma-terminated like
        UCSC's format). Assemblies without packaged chromsizes return
        empty."""
        from .fileops import read_table
        from .schemas import SCHEMAS

        if path is not None:
            return read_table(path, schema="all_mrna")
        from ..core.construction import local_df
        from ._assembly_data import ALIASES, CHROMSIZES

        db = ALIASES.get(self._db, self._db)
        if not sample or db not in CHROMSIZES:
            return local_df([], SCHEMAS["all_mrna"])
        rows = []
        i = 0
        for chrom, clen in sorted(CHROMSIZES[db].items()):
            for frac_num in (1, 2, 3):
                t_start = clen * frac_num // 5
                size = min(2000, max(clen - t_start, 1))
                t_end = t_start + size
                i += 1
                rows.append((
                    0,                      # bin (unused placeholder)
                    size, 0, 0, 0,          # matches, misMatches, repMatches, nCount
                    0, 0, 0, 0,             # q/t NumInsert, BaseInsert
                    "+" if i % 2 else "-",  # strand
                    f"SAMPLE_mRNA_{i:04d}",  # qName — labeled synthetic
                    size, 0, size,          # qSize, qStart, qEnd
                    chrom, clen, t_start, t_end,
                    1,                      # blockCount
                    f"{size},", "0,", f"{t_start},",
                ))
        return local_df(rows, SCHEMAS["all_mrna"])
