"""Materialize the committed convert-pipeline fixture corpus.

The driver's correctness gate runs the Spark query and the DuckDB oracle as
separate engines; both must see the *same* interleaved corpus.  The corpus is
deterministic (sources.documents.synthesize_corpus), but rather than trusting
two independent re-derivations (Spark SQL trig vs anything else), the fixture
is generated ONCE here and committed — both engines read the identical bytes:

    tests/fixtures/convert_corpus.parquet   (single parquet file)

Regenerate after any intentional generator change:
    python tools/make_convert_fixture.py
and re-commit; tests/test_convert_oracle.py pins the file against the live
generator so silent drift fails CI.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "fixtures", "convert_corpus.parquet",
)

# the parameters the convert_* driver queries used in round 1 (plans/queries.py)
PARAMS = dict(n_docs=500, n_zones=32, n_groups=4, n_points=150)


def main() -> None:
    from osm_to_netex_spark.session import get_spark
    from osm_to_netex_spark.sources import documents as docs_src

    spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    corpus = docs_src.synthesize_corpus(spark, **PARAMS)
    tmp = tempfile.mkdtemp(prefix="convert_fixture_")
    corpus.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    os.makedirs(os.path.dirname(FIXTURE), exist_ok=True)
    shutil.copy(part, FIXTURE)
    shutil.rmtree(tmp)
    n = spark.read.parquet(FIXTURE).count()
    print(f"wrote {FIXTURE}: {n} docs")
    spark.stop()


if __name__ == "__main__":
    main()
