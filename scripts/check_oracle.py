#!/usr/bin/env python
"""Local mirror of the driver's correctness gate: run every contract query on
Spark AND its oracle SQL on DuckDB over the same parquet dir; compare
row count, column names, dtypes, and (column-name-sorted, row-sorted) values.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # In-memory connections have no temp_directory, so out-of-core
    # operators (big sorts/aggs in the heavier oracles at sf1/sf10)
    # cannot spill and die at the allocator limit instead.  Give the
    # oracle a spill dir and a bounded budget so it behaves like the
    # disk-backed engine it is (caught by the round-10 sf10 sweep).
    con.execute(
        f"SET temp_directory='{os.environ.get('DUCKDB_TEMP_DIR', '/tmp/duckdb_oracle_spill')}'"
    )
    mem = os.environ.get("DUCKDB_MEMORY_LIMIT")
    if mem:
        con.execute(f"SET memory_limit='{mem}'")
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalize cell values, sort rows."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(cell)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and os.path.isdir(sys.argv[1]) else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if not os.path.isdir(a)]

    from pyspark.sql import SparkSession

    from duckdb_age_spark.conf import apply_recommended_conf

    spark = (
        apply_recommended_conf(
            SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', str(os.cpu_count()))}]")
            .appName("oracle-check"),
            shuffle_partitions=16,
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    names = only or list(qs)
    con = duck_connection(sf_dir)
    failures = 0

    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {type(ex).__name__}: {str(ex)[:300]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            print(f"FAIL {name}: oracle error: {type(ex).__name__}: {str(ex)[:300]}")
            failures += 1
            continue

        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"columns {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        elif len(sdf) == len(odf):
            cs, co = canon(sdf), canon(odf)
            if not cs.equals(co):
                neq = (cs != co).any(axis=1)
                idx = list(cs.index[neq])[:3] if len(cs) == len(co) else []
                detail = ""
                if idx:
                    detail = " | ".join(
                        f"row{i}: spark={cs.loc[i].to_dict()} oracle={co.loc[i].to_dict()}" for i in idx
                    )
                problems.append(f"values differ ({int(neq.sum()) if len(cs)==len(co) else '?'} rows) {detail[:500]}")
        # dtype advisory (driver may compare schemas)
        dt_s = {c: str(sdf[c].dtype) for c in sdf.columns}
        dt_o = {c: str(odf[c].dtype) for c in odf.columns}
        dtype_note = {c: (dt_s[c], dt_o.get(c)) for c in dt_s if dt_s[c] != dt_o.get(c)}

        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures += 1
        else:
            note = f" [dtypes differ: {dtype_note}]" if dtype_note else ""
            print(f"PASS {name} ({len(sdf)} rows, {time.time()-t0:.1f}s){note}")

    print(f"\n{len(names) - failures}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
