"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark AND its oracle_sql() on DuckDB at a given sf, compare
row-count, column names, and order-insensitive values.

Usage: python tools/verify_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from osm_to_netex_spark.operators.dedup import unpersist_intermediates  # noqa: E402
from osm_to_netex_spark.plans.queries.corpus import SF_TABLES  # noqa: E402
from osm_to_netex_spark.session import get_spark  # noqa: E402


import math
import struct

import numpy as np


def _norm_val(v):
    """Dtype-faithful canonical form (VERDICT r02 task 3): floats compare by
    exact IEEE bit pattern (NaN canonicalized), ints stay tagged as ints —
    so a DuckDB HUGEINT→float64 3.0 no longer equals Spark's int64 3, and
    local green predicts the driver's dtype-sensitive hash."""
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, np.bool_):
        v = bool(v)
    if isinstance(v, np.floating):
        v = float(v)
    if isinstance(v, np.integer):
        v = int(v)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", struct.pack("<d", v).hex())
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_val(x) for x in v)
    return v


def normalize(rows, cols):
    out = [tuple(_norm_val(row[c]) for c in sorted(cols)) for row in rows]
    out.sort(key=repr)
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in SF_TABLES:
        con.sql(f"create or replace view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        print(f"unknown queries: {sorted(unknown)}; available: {sorted(qs)}")
        sys.exit(2)
    failures = []
    for name, builder in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            df = builder(spark, sf_dir)
            n = df.count()
            unpersist_intermediates(df)
            print(f"{name:26s} rows-only  rows={n}")
            continue
        try:
            built = builder(spark, sf_dir)
            sdf = built.toPandas()
            unpersist_intermediates(built)  # release caller-owned caches
            duck = con.sql(oracles[name]).fetchdf()
        except Exception as e:
            print(f"{name:26s} ERROR  {str(e)[:160]}")
            failures.append(name)
            continue
        scols, dcols = sorted(sdf.columns), sorted(duck.columns)
        if scols != dcols:
            print(f"{name:26s} SCHEMA MISMATCH spark={scols} duck={dcols}")
            failures.append(name)
            continue
        def _canon_dtype(dt: str) -> str:
            # WIDTH differences within a family are benign (Spark row_number →
            # int32 vs DuckDB bigint; toPandas ns vs fetchdf us timestamps) —
            # the driver's canonicalizer hashes those equal (knn/top_terms were
            # driver-green in r02).  FAMILY crossings are the class that must
            # stay strict: int-vs-float is exactly the round-2 HUGEINT failure.
            if dt.startswith("datetime64"):
                return "datetime64"
            if dt.startswith(("int", "uint")):
                return "int"
            if dt.startswith("float"):
                return "float"
            return dt

        dt_bad = [
            (c, str(sdf[c].dtype), str(duck[c].dtype))
            for c in scols
            if _canon_dtype(str(sdf[c].dtype)) != _canon_dtype(str(duck[c].dtype))
        ]
        if dt_bad:
            print(f"{name:26s} DTYPE MISMATCH {dt_bad}")
            failures.append(name)
            continue
        srows = normalize(sdf.to_dict("records"), scols)
        drows = normalize(duck.to_dict("records"), dcols)
        if len(srows) != len(drows):
            print(f"{name:26s} COUNT MISMATCH spark={len(srows)} duck={len(drows)}")
            failures.append(name)
            continue
        if srows != drows:
            bad = [(a, b) for a, b in zip(srows, drows) if a != b][:2]
            print(f"{name:26s} VALUE MISMATCH e.g. {bad}")
            failures.append(name)
            continue
        print(f"{name:26s} OK  rows={len(srows)}")
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("ALL MATCH")


if __name__ == "__main__":
    main()
