"""Constructors: build interval / view DataFrames from Python shapes.

Parity with reference ``core/construction.py``: ``from_dict`` (:20-54),
``from_list`` (:64-73), ``from_any`` (:83-171), ``make_viewframe``
(:189-262), ``sanitize_bedframe`` (:265-343). All return Spark DataFrames
with schema ``chrom STRING, start BIGINT, end BIGINT [, name STRING]``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .specs import _resolve_cols
from .stringops import parse_region_string

_INTERVAL_FIELDS = lambda ck, sk, ek: T.StructType(
    [
        T.StructField(ck, T.StringType()),
        T.StructField(sk, T.LongType()),
        T.StructField(ek, T.LongType()),
    ]
)


def _spark() -> SparkSession:
    return SparkSession.active()


def local_df(data, schema) -> DataFrame:
    """Driver-side data → DataFrame as a Catalyst **LocalRelation**.

    The one way package code turns driver data into a frame. ``data``
    is a list of row tuples, a pandas frame or a pyarrow Table;
    ``schema`` a ``StructType`` or DDL string. Everything goes through
    Arrow into the JVM, which keeps the rows in the plan: broadcasts
    build driver-side, Catalyst can constant-fold into the rows, and no
    action over the frame runs a Python worker. ``createDataFrame(list)``
    instead parallelizes a pickled Python RDD (LogicalRDD): every
    downstream action, including each broadcast rebuild, runs a cluster
    job with Python serialization (~0.6 s measured for an 8-row view,
    ~6× a LocalRelation).

    Rows are converted column by column with the schema's Arrow types,
    so int64 values (INT64_MAX sentinels included) never pass through
    float64, even next to nulls. A pandas frame takes Spark's own
    pandas→Arrow conversion."""
    import pyarrow as pa

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if not isinstance(data, pa.Table) and not hasattr(data, "iloc"):
        from pyspark.sql.pandas.types import to_arrow_schema

        asch = to_arrow_schema(schema)
        cols = list(zip(*data)) or [()] * len(asch)
        data = pa.Table.from_arrays(
            [pa.array(list(c), type=f.type) for c, f in zip(cols, asch)],
            schema=asch)
    return _spark().createDataFrame(data, schema)


def from_series(regions, cols=None) -> DataFrame:
    """A chromsizes-style mapping (pandas Series indexed by name, or any
    name→length mapping) → (chrom, 0, length) frame (reference
    ``construction.py:57-62``)."""
    ck, sk, ek = _resolve_cols(cols)
    items = regions.items() if hasattr(regions, "items") else zip(
        regions.index, regions.values
    )
    rows = [(str(c), 0, int(v)) for c, v in items]
    return local_df(rows, _INTERVAL_FIELDS(ck, sk, ek))


def from_dict(regions: dict, cols=None) -> DataFrame:
    """``{chrom: length}`` or ``{chrom: (start, end)}`` → interval DataFrame."""
    ck, sk, ek = _resolve_cols(cols)
    rows = []
    for chrom, v in regions.items():
        if isinstance(v, (tuple, list)):
            start, end = int(v[0]), int(v[1])
        else:
            start, end = 0, int(v)
        rows.append((str(chrom), start, end))
    return local_df(rows, _INTERVAL_FIELDS(ck, sk, ek))


def from_list(regions: list, name_col: str = "name", cols=None) -> DataFrame:
    """List of (chrom,start,end[,name]) tuples → DataFrame."""
    ck, sk, ek = _resolve_cols(cols)
    has_name = any(len(r) > 3 for r in regions)
    if has_name:
        schema = T.StructType(
            _INTERVAL_FIELDS(ck, sk, ek).fields
            + [T.StructField(name_col, T.StringType())]
        )
        rows = [
            (str(r[0]), int(r[1]), int(r[2]), str(r[3]) if len(r) > 3 else None)
            for r in regions
        ]
    else:
        schema = _INTERVAL_FIELDS(ck, sk, ek)
        rows = [(str(r[0]), int(r[1]), int(r[2])) for r in regions]
    return local_df(rows, schema)


def from_ucsc_string_list(strings: list, cols=None) -> DataFrame:
    """List of UCSC strings ('chr1:10-20') → DataFrame."""
    return from_list([parse_region_string(s) for s in strings], cols=cols)


def from_any(regions, cols=None, name_col: str = "name") -> DataFrame:
    """Polymorphic coercion (dict / list / Spark DF / pandas DF / strings)."""
    if isinstance(regions, DataFrame):
        return regions
    if isinstance(regions, dict):
        return from_dict(regions, cols=cols)
    if isinstance(regions, (list, tuple)):
        if len(regions) and isinstance(regions[0], str):
            return from_ucsc_string_list(list(regions), cols=cols)
        return from_list(list(regions), name_col=name_col, cols=cols)
    try:  # pandas DataFrame / Series duck-typing
        import pandas as pd

        if isinstance(regions, pd.Series):
            return from_dict(regions.to_dict(), cols=cols)
        if isinstance(regions, pd.DataFrame):
            return _spark().createDataFrame(regions)
    except ImportError:
        pass
    raise ValueError(f"cannot construct intervals from {type(regions)}")


def add_ucsc_name_column(df: DataFrame, name_col: str = "name", cols=None) -> DataFrame:
    """Append a ``chrom:start-end`` string column (reference
    ``construction.py:174-186``). Pure projection."""
    ck, sk, ek = _resolve_cols(cols)
    return df.withColumn(
        name_col,
        F.concat(F.col(ck), F.lit(":"), F.col(sk).cast("string"),
                 F.lit("-"), F.col(ek).cast("string")),
    )


def make_viewframe(
    view, view_name_col: str = "name", cols=None, check: bool = False
) -> DataFrame:
    """Coerce to a viewframe: interval DF + unique non-null name column.

    Accepts dict {chrom: length}, list of tuples, Spark/pandas DataFrame
    (reference ``construction.py:189-262``). Missing names default to the
    UCSC string of the region.
    """
    ck, sk, ek = _resolve_cols(cols)
    df = from_any(view, cols=cols, name_col=view_name_col)
    if view_name_col not in df.columns:
        df = df.withColumn(view_name_col, F.col(ck))
    df = df.select(
        F.col(ck).cast("string").alias(ck),
        F.col(sk).cast("long").alias(sk),
        F.col(ek).cast("long").alias(ek),
        F.col(view_name_col).cast("string").alias(view_name_col),
    )
    if check:
        from . import checks

        checks.is_viewframe(df, raise_errors=True, cols=(ck, sk, ek),
                            view_name_col=view_name_col)
    return df


def sanitize_bedframe(
    df: DataFrame,
    recast_dtypes: bool = True,
    drop_null: bool = False,
    start_exceed_end_action: str | None = None,
    cols=None,
) -> DataFrame:
    """Normalize an interval DataFrame (reference ``construction.py:265-343``).

    - casts chrom→string, start/end→long
    - nulls the whole triple if any member is null
    - ``start_exceed_end_action``: 'drop' removes inverted intervals,
      'flip' swaps their coordinates

    Deviation (documented): in 'drop' mode null triples are always kept;
    the reference drops them too, but only when at least one inverted
    row exists (its masking branch is gated on ``.any()`` —
    ``construction.py:316-326``), a data-dependent quirk not replicated.
    """
    ck, sk, ek = _resolve_cols(cols)
    out = df
    if recast_dtypes:
        out = out.withColumns(
            {
                ck: F.col(ck).cast("string"),
                sk: F.col(sk).cast("long"),
                ek: F.col(ek).cast("long"),
            }
        )
    any_null = F.col(ck).isNull() | F.col(sk).isNull() | F.col(ek).isNull()
    out = out.withColumns(
        {
            ck: F.when(any_null, F.lit(None)).otherwise(F.col(ck)),
            sk: F.when(any_null, F.lit(None)).otherwise(F.col(sk)),
            ek: F.when(any_null, F.lit(None)).otherwise(F.col(ek)),
        }
    )
    if drop_null:
        out = out.filter(F.col(ck).isNotNull())
    if start_exceed_end_action is not None:
        action = start_exceed_end_action.lower()
        inverted = F.col(sk) > F.col(ek)
        if action == "drop":
            out = out.filter(~inverted | inverted.isNull())
        elif action == "flip":
            s, e = F.col(sk), F.col(ek)
            out = out.withColumns(
                {sk: F.when(inverted, e).otherwise(s), ek: F.when(inverted, s).otherwise(e)}
            )
        else:
            raise ValueError("start_exceed_end_action must be 'drop' or 'flip'")
    return out
