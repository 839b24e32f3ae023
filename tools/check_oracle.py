"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at a given sf dir on Spark, runs the
matching ``oracle_sql()`` in DuckDB over the same parquet, and compares
row count, column-name set, and an order-insensitive value comparison
(rows sorted over name-sorted columns; floats to 9 significant digits).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
       python tools/check_oracle.py --json OUT.json [sf_dir] [query ...]

``--json``: additionally write {query: verdict} as JSON — the round
ritual commits the FULL registry run as CHECKFULL_r{N}.json (the driver
gate caps at 50 rows; this is the artifact proving the rotated-out rows
stay green).
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)) or pd.isna(v):
        return "<NULL>"
    if isinstance(v, float):
        return f"{v:.9g}"
    if hasattr(v, "item"):
        v = v.item()
        if isinstance(v, float):
            return f"{v:.9g}"
    return str(v)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(_cell)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main():
    args = sys.argv[1:]
    json_out = None
    if args and args[0] == "--json":
        json_out = args[1]
        args = args[2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entrymod
    import bioframe_spark as bf
    from bioframe_spark.session import get_spark

    spark = get_spark("check_oracle", cpus=8, shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            # the scope releases the query's internal persists once its
            # result is materialized
            with bf.scope():
                sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            results[name] = f"SPARK ERROR: {e}"
            print(f"[{name}] SPARK ERROR: {e}")
            continue
        t1 = time.time()
        if name not in oracles:
            results[name] = f"rows-only ({len(sdf)} rows, {t1-t0:.1f}s)"
            print(f"[{name}] rows-only: {len(sdf)} rows  ({t1-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            duck_types = dict(zip(rel.columns, [str(t) for t in rel.types]))
            odf = rel.df()
        except Exception as e:
            results[name] = f"ORACLE ERROR: {e}"
            print(f"[{name}] ORACLE ERROR: {e}")
            continue
        status = []
        # The driver hashes TYPED values: DuckDB HUGEINT (un-cast SUM) never
        # hash-matches Spark BIGINT even when values are equal. Catch locally.
        bad_types = [f"{c}:{t}" for c, t in duck_types.items()
                     if "HUGEINT" in t or "INT128" in t]
        if bad_types:
            status.append(f"ORACLE-TYPE {bad_types} (cast SUM to BIGINT)")
        if len(sdf) != len(odf):
            status.append(f"ROWCOUNT {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            status.append(f"SCHEMA {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        if not status:
            cs, co = canon(sdf), canon(odf)
            if not cs.equals(co):
                neq = cs != co
                bad_cols = [c for c in cs.columns if neq[c].any()]
                n_bad = int(neq.any(axis=1).sum())
                status.append(f"VALUES {n_bad}/{len(cs)} rows differ in {bad_cols}")
                ex = neq.any(axis=1)
                for i in ex[ex].index[:3]:
                    status.append(f"  spark={cs.loc[i].to_dict()}")
                    status.append(f"  duck ={co.loc[i].to_dict()}")
        verdict = "OK" if not status else "; ".join(status)
        results[name] = verdict
        print(f"[{name}] {verdict}  ({len(sdf)} rows, spark {t1-t0:.1f}s)")

    n_ok = sum(1 for v in results.values() if v == "OK" or v.startswith("rows-only"))
    print(f"\n{n_ok}/{len(results)} clean")
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "n_clean": n_ok,
                       "n_total": len(results), "results": results}, f,
                      indent=1)


if __name__ == "__main__":
    main()
