"""Registry-wide oracle dtype audit (VERDICT r02 task 1).

The driver's value hash is pandas-dtype-sensitive: a DuckDB HUGEINT output
column canonicalizes to float64 while Spark emits int64, so an oracle whose
integer ``sum()`` reaches the output uncast goes red even when every value is
bit-identical (the round-2 ``events_sessionize`` failure).  This test binds —
without executing — every ``oracle_sql()`` entry against the sf0.001 views and
asserts no output column is HUGEINT / UHUGEINT / DECIMAL, so the failure class
cannot re-enter the registry.
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry_mod
from osm_to_netex_spark.plans.queries.corpus import SF_TABLES
from tests.support import SF

FORBIDDEN = ("HUGEINT", "UHUGEINT", "DECIMAL")


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in SF_TABLES:
        c.sql(
            f"create or replace view {t} as "
            f"select * from read_parquet('{SF}/{t}.parquet')"
        )
    return c


def test_no_forbidden_output_dtypes(con):
    oracles = entry_mod.oracle_sql()
    assert len(oracles) >= 150
    bad = {}
    for name, sql in oracles.items():
        rel = con.sql(sql)  # binds types only; nothing is executed
        hits = [
            (c, str(t))
            for c, t in zip(rel.columns, rel.types)
            if any(f in str(t) for f in FORBIDDEN)
        ]
        if hits:
            bad[name] = hits
    assert not bad, f"oracle output columns with driver-hostile dtypes: {bad}"
