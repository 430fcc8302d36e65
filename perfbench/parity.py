"""Set-up parity checks: the smallosm micro fixture through the conversion,
and the committed convert_corpus.parquet through every CONVERT_QUERIES
builder against its DuckDB oracle.

The verdict depends only on the program's source and fixtures, so it is
stored under a hash of both and computed once per program state.
golden-31 parity needs the reference's expected XML, which the repository
does not hold; it is reported as skipped and never counted as a pass.
"""

from __future__ import annotations

import json
import math
import struct

import harness
from harness import REPO, WORK

GOLDEN31 = "skipped: reference absent"


def _key() -> str:
    return harness.source_hash(REPO / "osm_to_netex_spark", REPO / "tests" / "fixtures")[:20]


def stored_path():
    return WORK / "parity" / f"{_key()}.json"


def smallosm(spark) -> list[str]:
    """The reference's smallosm.xml, encoded as one document, converts to
    exactly its one TariffZone (reference smallosm.xml:1-17)."""
    from osm_to_netex_spark.plans import netex
    from osm_to_netex_spark.sources import documents as docs_src

    rows = netex.convert_documents(docs_src.smallosm_document(spark), "TariffZone").zones.collect()
    if len(rows) != 1:
        return [f"{len(rows)} zones, expected 1"]
    r = rows[0]
    want = {
        "zone_id": "BRA:TariffZone:104", "version": "1", "name": "Kongsberg", "name_lang": "nor",
        "polygon_id": "GEN-PolygonType-136284",
        "pos_list": [59.6714157, 10.2251785, 59.7304896, 10.0912439],
        "key_list": None, "valid_from": None, "valid_to": None,
    }
    return [f"{k}={r[k]!r}, expected {v!r}" for k, v in want.items() if r[k] != v]


def _norm(v):
    """Engine-neutral canonical value: floats by IEEE bit pattern, numpy
    scalars and arrays as Python values, maps as sorted items."""
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        return ("f", "nan") if math.isnan(v) else ("f", struct.pack("<d", v).hex())
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _rows(pdf) -> list:
    cols = sorted(pdf.columns)
    return sorted((tuple(_norm(r[c]) for c in cols) for r in pdf.to_dict("records")), key=repr)


def convert_oracles(spark) -> dict[str, list[str]]:
    """{query: problems} for every CONVERT_QUERIES entry, Spark vs DuckDB."""
    import duckdb

    from osm_to_netex_spark.plans.convert_queries import CONVERT_QUERIES

    out = {}
    con = duckdb.connect()
    try:
        for name, (build, oracle) in CONVERT_QUERIES.items():
            got = build(spark, str(REPO)).toPandas()
            want = con.sql(oracle()).fetchdf()
            if sorted(got.columns) != sorted(want.columns):
                out[name] = [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
                continue
            g, w = _rows(got), _rows(want)
            out[name] = [] if g == w else [f"{len(g)} rows != oracle {len(w)} rows or values differ"]
    finally:
        con.close()
    return out


def compute(spark) -> dict:
    verdict = {"smallosm": smallosm(spark), "convert_oracles": convert_oracles(spark)}
    path = stored_path()
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(verdict))
    return verdict


def record(tally) -> dict:
    """Count the stored verdict into the run's tally; return the summary the
    report prints."""
    verdict = json.loads(stored_path().read_text())
    tally.record("parity smallosm", verdict["smallosm"])
    for name, problems in verdict["convert_oracles"].items():
        tally.record(f"oracle {name}", problems)
    n_ok = sum(not p for p in verdict["convert_oracles"].values())
    return {
        "smallosm": "fail" if verdict["smallosm"] else "pass",
        "convert_oracles": f"{n_ok}/{len(verdict['convert_oracles'])} match",
        "golden31": GOLDEN31,
    }
