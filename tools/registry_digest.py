"""Digest of the query registry, without a JVM and independent of the
checkout's location.

Usage:
    python tools/registry_digest.py              # oracle + Spark-side digest
    python tools/registry_digest.py --per-query  # one "name sha" line per query

The oracle digest hashes every registry name with its DuckDB oracle SQL.
The Spark-side digest calls every builder with a recording stub session and
hashes the last ``spark.sql`` text per name.  The stub's views count as
registered, so ``register_geometry_views`` sends nothing: a DataFrame
builder that sends no SQL of its own, and a builder that needs a live
session (it raises under the stub), is left out, and the count says how
many were hashed.  Before hashing, the absolute path of the committed convert
fixture (``FIXTURE_CORPUS``, embedded by the queries that read it) is
replaced with a fixed token, so two checkouts of one commit print the same
digests wherever they live.  A change that only moves query code leaves
both digests unchanged; ``--per-query`` names the oracles a change touched.
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm_to_netex_spark.plans import queries as Q  # noqa: E402
from osm_to_netex_spark.plans.convert_queries import FIXTURE_CORPUS  # noqa: E402


def _portable(text: str) -> str:
    return text.replace(FIXTURE_CORPUS, "<FIXTURE_CORPUS>")


def _sha(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()


_SF = "/sf"  # the sf directory builders are called with


class _Inert:  # every attribute and call returns itself
    def __getattr__(self, name):
        return self

    def __call__(self, *a, **k):
        return self


class _Stub:  # .sql records its text; .read/.table/.catalog/.sparkContext are inert
    read = table = catalog = sparkContext = _Inert()
    _graft_geo_views = _SF  # register_geometry_views' memo: the sf views are registered

    def __init__(self):
        self.texts = []

    def sql(self, text, *a, **k):
        self.texts.append(text)
        return _Inert()


def oracle_texts() -> dict[str, str]:
    return {name: _portable(oracle()) for name, (_build, oracle) in Q.QUERIES.items()}


def spark_texts() -> dict[str, str]:
    got = {}
    for name, (build, _oracle) in Q.QUERIES.items():
        stub = _Stub()
        try:
            build(stub, _SF)
        except Exception:
            continue
        if stub.texts:
            got[name] = _portable(stub.texts[-1])
    return got


def main(argv: list[str]) -> int:
    oracles = oracle_texts()
    if argv == ["--per-query"]:
        for name in sorted(oracles):
            print(name, hashlib.sha256(oracles[name].encode()).hexdigest())
        return 0
    if argv:
        print(__doc__)
        return 2
    spark = spark_texts()
    print("oracle", len(oracles), _sha(sorted(oracles.items())))
    print("spark ", len(spark), _sha(sorted(spark.items())))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
