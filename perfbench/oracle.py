"""Output check against DuckDB, run outside every timer.

The expected rows come from the registry's own oracle bodies
(``__spark_entry__.oracle_sql()``): the shared ``_CTE`` prefix that
derives ``a``/``b``/``s``/``p``/``chroms`` from TPC-H tables is swapped for
DuckDB views over the generated parquet, which carry the same column
names. The comparison follows ``tools/check_oracle.py``: row count, column
names, then an order-insensitive comparison of the values (floats to 9
significant digits), done inside DuckDB so a multi-million-row result
never goes through pandas: the sums of the row hashes must match, and on
a mismatch a two-way ``EXCEPT ALL`` counts the differing rows.
"""

from __future__ import annotations

import duckdb

import __spark_entry__ as em

ORACLES = em.oracle_sql()


def _body(key: str) -> str:
    sql = ORACLES[key]
    if sql.startswith(em._CTE):
        # the remainder is either ", x AS (...) SELECT ..." or "SELECT ...":
        # a one-row CTE keeps both forms valid after the view swap
        return "WITH _views AS (SELECT 1)" + sql[len(em._CTE):]
    return sql


def _canon(con, src: str) -> tuple:
    """``src`` as strings, columns sorted by name and renamed c0..cN.
    Returns (the SELECT over ``src``, the sorted source column names)."""
    desc = sorted(con.sql(f"SELECT column_name, column_type "
                          f"FROM (DESCRIBE {src})").fetchall())
    sel = ", ".join(
        (f'printf(\'%.9g\', "{c}")' if t in ("DOUBLE", "FLOAT")
         else f'CAST("{c}" AS VARCHAR)') + f" AS c{i}"
        for i, (c, t) in enumerate(desc))
    return f"SELECT {sel} FROM {src}", [c for c, _ in desc]


def check(oracle: str, tables: dict, got) -> str:
    """Compare ``got`` (a pyarrow Table of the Spark result) with the
    oracle ``oracle`` evaluated over ``tables`` (view name -> directory
    of parquet parts). Returns "" when equal, else a one-line reason."""
    con = duckdb.connect(config={"threads": 2})
    try:
        for name, path in tables.items():
            con.sql(f"CREATE VIEW {name} AS "
                    f"SELECT * FROM read_parquet('{path}/*.parquet')")
        con.register("got_arrow", got)
        con.sql(f"CREATE TABLE expected AS {_body(oracle)}")
        g, cols_got = _canon(con, "got_arrow")
        e, cols_exp = _canon(con, "expected")
        if cols_got != cols_exp:
            return f"SCHEMA {cols_got} vs {cols_exp}"
        # row count and the sum of the row hashes: equal for equal
        # multisets of rows, whatever their order
        cols = ", ".join(f"c{i}" for i in range(len(cols_got)))
        n_got, h_got = con.sql(
            f"SELECT count(*), sum(hash({cols})) FROM ({g})").fetchone()
        n_exp, h_exp = con.sql(
            f"SELECT count(*), sum(hash({cols})) FROM ({e})").fetchone()
        if n_got != n_exp:
            return f"ROWCOUNT {n_got} vs {n_exp}"
        if h_got == h_exp:
            return ""
        diff = con.sql(f"SELECT count(*) FROM (({g} EXCEPT ALL {e}) "
                       f"UNION ALL ({e} EXCEPT ALL {g}))").fetchone()[0]
        return f"VALUES {diff} rows differ"
    finally:
        con.close()
