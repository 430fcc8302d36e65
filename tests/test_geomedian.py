"""Geometric-median semantics on explicit fixes: exact Python Weiszfeld
replay, outlier robustness vs the centroid, and partition invariance."""

from osm_to_netex_spark.functions.portable import SPARK
from osm_to_netex_spark.operators import trajectory

COS0 = 0.5225


def _py_median(pts, k=5):
    n = len(pts)
    # seed: integer-quantized centroid (1e-9-degree units), like the SQL
    x = sum(round(p[0] * 1e9) for p in pts) / (n * 1e9)
    y = sum(round(p[1] * 1e9) for p in pts) / (n * 1e9)
    for _ in range(k):
        den = nla = nlo = 0.0
        for la, lo in pts:
            dla = la - x
            dlo = (lo - y) * COS0
            w = 1.0 / max((dla * dla + dlo * dlo) ** 0.5, 1e-9)
            den += w
            nla += w * la
            nlo += w * lo
        x, y = nla / den, nlo / den
    return round(x, 9), round(y, 9)


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, lat double, lon double"
    )


def _median(spark, fixes):
    return spark.sql(trajectory.geometric_median_sql(SPARK, "{fixes}"), fixes=fixes).collect()


def test_matches_python_weiszfeld_exactly(spark):
    rows = []
    pts_by_user = {}
    for u in (1, 2):
        pts = [(60.0 + 0.01 * i * u, 10.0 + 0.007 * ((i * 3) % 5)) for i in range(7)]
        pts_by_user[u] = pts
        rows += [(u, i, la, lo) for i, (la, lo) in enumerate(pts)]
    out = {
        r.user_id: (r.mlat, r.mlon, r.n_fixes)
        for r in _median(spark, _df(spark, rows))
    }
    for u, pts in pts_by_user.items():
        mlat, mlon = _py_median(pts)
        assert out[u] == (mlat, mlon, len(pts))


def test_robust_to_outlier_unlike_centroid(spark):
    # nine fixes at ~(60, 10), one teleport at (70, 20)
    pts = [(60.0 + 1e-4 * i, 10.0 + 1e-4 * i) for i in range(9)] + [(70.0, 20.0)]
    rows = [(1, i, la, lo) for i, (la, lo) in enumerate(pts)]
    r = _median(spark, _df(spark, rows))[0]
    centroid_lat = sum(p[0] for p in pts) / len(pts)  # dragged to ~61
    assert abs(r.mlat - 60.0) < 0.05  # median stays at the cluster
    assert centroid_lat > 60.9


def test_partition_invariance(spark):
    rows = [
        (1 + i % 3, i, 60.0 + (i * 7 % 13) * 1e-3, 10.0 + (i * 5 % 11) * 1e-3)
        for i in range(45)
    ]
    df = _df(spark, rows)
    a = sorted(map(tuple, _median(spark, df)))
    b = sorted(map(tuple, _median(spark, df.repartition(7))))
    assert a == b and len(a) == 3
