"""Round-5 batch G vs exact Python replays (LANDING.md step 5):
CUPED variance reduction, empirical-Bayes shrinkage.
"""

import hashlib
import math
from collections import defaultdict

import pyarrow.parquet as pq

from osm_to_netex_spark.plans import queries as Q
from osm_to_netex_spark.plans.queries import stats as STATS

SF = "/root/testdata/sf0.001"


def _phash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _arm(user_id: int) -> int:
    return _phash60(f"ab:{user_id}") % 2


def _tdiv(a: int, b: int) -> int:
    """SQL integer division (truncates toward zero in both engines)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def test_cuped_matches_python_replay(spark):
    got = {
        r["arm"]: (
            r["n_users"], r["sum_y_q3"], r["adj_mean_q3"], r["theta"],
            r["rho_sq"],
        )
        for r in Q.QUERIES["cuped"][0](spark, SF).collect()
    }
    ev = pq.read_table(f"{SF}/events.parquet").to_pylist()
    by_user = defaultdict(list)
    for e in ev:
        by_user[e["user_id"]].append(e)
    users = []
    for uid, rows in by_user.items():
        rows.sort(key=lambda e: (e["ts"], e["event_id"]))
        m = len(rows)
        pre = [e for i, e in enumerate(rows, 1) if i * 2 <= m]
        post = [e for i, e in enumerate(rows, 1) if i * 2 > m]
        if not pre or not post:
            continue
        sq = lambda es: sum(math.floor(e["value"] * 1e6 + 0.5) for e in es)
        x = _tdiv(_tdiv(sq(pre), len(pre)), 1000)
        y = _tdiv(_tdiv(sq(post), len(post)), 1000)
        users.append((uid, _arm(uid), x, y))
    n = len(users)
    sx = sum(u[2] for u in users)
    sy = sum(u[3] for u in users)
    sxx = sum(u[2] * u[2] for u in users)
    syy = sum(u[3] * u[3] for u in users)
    sxy = sum(u[2] * u[3] for u in users)
    th = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    vx_n2, vy_n2 = float(n * sxx - sx * sx), float(n * syy - sy * sy)
    want = {}
    for arm in (0, 1):
        au = [u for u in users if u[1] == arm]
        na = len(au)
        say, sax = sum(u[3] for u in au), sum(u[2] for u in au)
        adj = say / na - th * (sax / na - sx / n)
        want[arm] = (
            na, say, round(adj, 9), round(th, 9),
            round(th * th * vx_n2 / vy_n2, 9),
        )
    assert got == want


def test_eb_shrinkage_matches_python_replay(spark):
    got = {
        r["user_id"]: (
            r["n"], r["x"], r["r_q6"], r["shrunk_rate"], r["alpha"],
            r["beta"],
        )
        for r in Q.QUERIES["eb_shrinkage"][0](spark, SF).collect()
    }
    ev = pq.read_table(f"{SF}/events.parquet").to_pylist()
    agg = defaultdict(lambda: [0, 0])
    for e in ev:
        agg[e["user_id"]][0] += 1
        agg[e["user_id"]][1] += 1 if e["value"] > STATS._CONV_THRESH else 0
    rated = {u: (n, x, _tdiv(x * 1000000, n)) for u, (n, x) in agg.items()}
    g = len(rated)
    sr = sum(r[2] for r in rated.values())
    srr = sum(r[2] * r[2] for r in rated.values())
    m = (sr / g) / 1e6
    v = ((srr - sr * sr / g) / (g - 1)) / 1e12
    alpha = m * (m * (1.0 - m) / v - 1.0)
    beta = (1.0 - m) * (m * (1.0 - m) / v - 1.0)
    want = {
        u: (
            n, x, rq,
            round((x + alpha) / (n + alpha + beta), 9),
            round(alpha, 9), round(beta, 9),
        )
        for u, (n, x, rq) in rated.items()
    }
    assert got == want
    # shrinkage pulls extreme small-sample rates toward the prior mean
    for u, (n, x, rq) in rated.items():
        raw = x / n
        assert abs(want[u][3] - m) <= abs(raw - m) + 1e-9
