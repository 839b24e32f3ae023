"""bioframe_spark — a PySpark-native genomic-interval analytics engine.

Re-expresses the full operator surface of the reference interval-dataframe
library (open2c/bioframe, studied at /root/reference) as lazy Spark
DataFrame transformations: interval joins, interval aggregation,
nearest-neighbor joins, set differences, clipping, binning, plus genomic
file-format I/O schemas — and adds the large-scale training-data pipeline
operators (dedup, similarity search, text analysis) that a 100 TB corpus
needs.

Everything is DataFrame/SQL-first: Catalyst owns planning; pandas UDFs
appear only where built-ins can't express the semantics (kNN join,
sequence ops).
"""

from .core.specs import update_default_colnames, set_default_colnames
from .core.stringops import (
    parse_region,
    parse_region_string,
    to_ucsc_string,
    is_complete_ucsc_string,
)
from .core.construction import (
    add_ucsc_name_column,
    from_any,
    from_dict,
    from_list,
    from_ucsc_string_list,
    make_viewframe,
    sanitize_bedframe,
)
from .core import checks
from .core.persist import scope
# numpy kernel compat layer, exported like the reference's
# `from .core import arrops` (reference __init__.py)
from .core import arrops
from .operators.ops import (
    select,
    select_mask,
    select_mask_positional,
    select_indices,
    select_labels,
    expand,
    overlap,
    cluster,
    merge,
    coverage,
    subtract,
    setdiff,
    count_overlaps,
    trim,
    complement,
    sort_bedframe,
    assign_view,
    pileup,
    with_bin,
    overlap_prebinned,
)
from .operators.closest import closest, closest_within
from .operators.extras import (
    binnify,
    make_chromarms,
    pair_by_distance,
    mark_runs,
    merge_runs,
    frac_gene_coverage,
)
from .operators import sequence
from .operators.sequence import (
    digest,
    frac_gc,
    frac_mapped,
    load_fasta,
    seq_gc,
)
from .sources.assembly import assembly_info, assemblies_available, fetch_chromsizes
from .sources import fileops, schemas
from .sources.schemas import SCHEMAS
from .sources.fileops import (
    read_alignments,
    read_bigbed,
    read_bigwig,
    read_chromsizes,
    read_pairix,
    read_tabix,
    read_table,
    to_bigbed,
    to_bigwig,
)
from .sources.bed import to_bed
from .sources.resources import UCSCClient, fetch_centromeres
from .sources.clients import EncodeClient, FDNClient
from .core.specs import is_chrom_dtype
from .core.construction import from_series
from .core.checks import (
    is_bedframe,
    is_cataloged,
    is_contained,
    is_covering,
    is_overlapping,
    is_sorted,
    is_tiling,
    is_viewframe,
)
from . import vis
from .vis import plot_intervals, plot_intervals_arr, to_ucsc_colorstring

# reference's deprecated alias surface
read_bam = read_alignments

__version__ = "0.1.0"
