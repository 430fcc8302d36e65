"""A/B experiment: polyfill as one big HOF cover expression (current) vs a
staged bounds-projection + double posexplode over sequence() (candidate).

Hypothesis (BASELINE.md per-query caveat): the cover queries' sf0.1 cost is
dominated by FIXED plan cost — Catalyst analysis + Janino codegen of the
large generated expressions.  The exploded form keeps every expression small
(bounds are scalar columns; the cell enumeration is two explode(sequence())
projections), so if the hypothesis is right it should shave most of the
fixed cost while producing the exact same multiset of rows.

Usage: python tools/exp_polyfill_explode.py [sf_dir] [n_iters]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm_to_netex_spark.functions import geo  # noqa: E402
from osm_to_netex_spark.functions.portable import SPARK  # noqa: E402
from osm_to_netex_spark.plans.queries import q_polyfill, register_geometry_views  # noqa: E402
from osm_to_netex_spark.session import get_spark  # noqa: E402


def polyfill_exploded(spark, resolutions=(7, 8)):
    """Same rows as q_polyfill, built from small expressions + explodes."""
    from pyspark.sql import functions as F

    polys = spark.table("geo_polys")
    lats = geo.poslist_lats("pos_list", SPARK)
    lons = geo.poslist_lons("pos_list", SPARK)
    staged = polys.selectExpr(
        "zone_id",
        f"array_min({lats}) as lat_lo",
        f"array_max({lats}) as lat_hi",
        f"array_min({lons}) as lon_lo",
        f"array_max({lons}) as lon_hi",
    )
    parts = []
    for r in resolutions:
        n = 2**r
        ix_lo, iy_lo = geo.quad_ixy("lat_lo", "lon_lo", r, SPARK)
        ix_hi, iy_hi = geo.quad_ixy("lat_hi", "lon_hi", r, SPARK)
        quad = (
            staged.selectExpr(
                "zone_id",
                f"{ix_lo} as ix_lo",
                f"{ix_hi} as ix_hi",
                f"explode(sequence({iy_lo}, {iy_hi})) as iy",
            )
            .selectExpr("zone_id", "iy", "explode(sequence(ix_lo, ix_hi)) as ix")
            .selectExpr(
                "zone_id",
                f"'quad' as scheme", f"{r} as res",
                geo.quad_pack("ix", "iy", r) + " as cell",
            )
        )
        parts.append(quad)
        # hex: axial bounds from the 4 bbox corners, padded 1 ring
        corners = [
            geo.hex_qr(la, lo, r, SPARK)
            for la in ("lat_lo", "lat_hi")
            for lo in ("lon_lo", "lon_hi")
        ]
        q_exprs = ", ".join(c[0] for c in corners)
        r_exprs = ", ".join(c[1] for c in corners)
        hexp = (
            staged.selectExpr(
                "zone_id",
                f"least({q_exprs}) - 1 as q_lo",
                f"greatest({q_exprs}) + 1 as q_hi",
                f"least({r_exprs}) - 1 as r_lo",
                f"greatest({r_exprs}) + 1 as r_hi",
            )
            .selectExpr("zone_id", "r_lo", "r_hi", "explode(sequence(q_lo, q_hi)) as hq")
            .selectExpr("zone_id", "hq", "explode(sequence(r_lo, r_hi)) as hr")
            .selectExpr(
                "zone_id",
                f"'hex' as scheme", f"{r} as res",
                geo.hex_pack("hq", "hr", r) + " as cell",
            )
        )
        parts.append(hexp)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def checksum(df):
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("zone_id", "scheme", "res", "cell")).alias("chk"),
    ).collect()[0]
    return row["n"], row["chk"]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    iters = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark(cores=32, extra_conf={"spark.ui.showConsoleProgress": "false"})
    register_geometry_views(spark, sf_dir)
    # warm both paths once (JIT, file listing)
    print("warmup:", checksum(q_polyfill(spark, sf_dir)), checksum(polyfill_exploded(spark)))
    for label, build in (("hof", lambda: q_polyfill(spark, sf_dir)), ("exploded", lambda: polyfill_exploded(spark))):
        times = []
        for _ in range(iters):
            t0 = time.perf_counter()
            n, chk = checksum(build())
            times.append(time.perf_counter() - t0)
        print(f"{label:9s} n={n} chk={chk} times={[round(t, 3) for t in times]}")


if __name__ == "__main__":
    main()
