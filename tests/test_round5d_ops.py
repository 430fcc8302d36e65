"""Round-5 batch D vs exact Python replays (LANDING.md step 5):
viewshed, cost distance, RAKE keyphrases, SPRT, JSON extraction.
"""

import heapq
import json
import math
import re
from collections import defaultdict

import pyarrow.parquet as pq

from osm_to_netex_spark.plans import queries as Q
from osm_to_netex_spark.plans.queries import (
    stats as STATS,
    terrain as TERRAIN,
    text as TEXT,
)

from tests.test_round5c_ops import _raster  # noqa: F401  (shared replica)

SF = "/root/testdata/sf0.001"


def _observer():
    ix_lo, ix_hi, iy_lo, iy_hi = TERRAIN._grid_bounds()
    return (ix_lo + ix_hi) // 2, (iy_lo + iy_hi) // 2


def _supercover(ox, oy, tx, ty):
    """Cells whose [j±0.5] square the segment (ox,oy)->(tx,ty) crosses,
    via the same slab test the SQL runs."""
    out = []
    for cy in range(min(oy, ty), max(oy, ty) + 1):
        for cx in range(min(ox, tx), max(ox, tx) + 1):
            x0, x1 = cx - 0.5, cx + 0.5
            y0, y1 = cy - 0.5, cy + 0.5
            if tx == ox:
                hit = x0 <= ox <= x1
            elif ty == oy:
                hit = y0 <= oy <= y1
            else:
                txs = sorted(((x0 - ox) / (tx - ox), (x1 - ox) / (tx - ox)))
                tys = sorted(((y0 - oy) / (ty - oy), (y1 - oy) / (ty - oy)))
                hit = max(txs[0], tys[0], 0.0) <= min(txs[1], tys[1], 1.0)
            if hit:
                out.append((cx, cy))
    return out


def test_viewshed_matches_python_los(spark):
    got = {
        (r["ix"], r["iy"]): (r["visible"], r["n_crossed"])
        for r in Q.QUERIES["viewshed"][0](spark, SF).collect()
    }
    ras = _raster()
    ox, oy = _observer()
    cx_m, cy_m = TERRAIN._cell_sizes()
    z_obs = ras[(ox, oy)] + TERRAIN._OBS_H

    def dist(jx, jy):
        return math.sqrt(
            ((jx - ox) * cx_m) ** 2 + ((jy - oy) * cy_m) ** 2
        )

    want = {}
    for (tx, ty), zt in ras.items():
        if (tx, ty) == (ox, oy):
            continue
        inter = [
            c for c in _supercover(ox, oy, tx, ty)
            if c != (ox, oy) and c != (tx, ty)
        ]
        blocked = any(
            (ras[c] - z_obs) * dist(tx, ty) >= (zt - z_obs) * dist(*c)
            for c in inter
        )
        want[(tx, ty)] = (0 if blocked else 1, len(inter))
    assert got == want


def test_cost_distance_matches_python_dijkstra(spark):
    got = {
        (r["ix"], r["iy"]): r["cost_q3"]
        for r in Q.QUERIES["cost_distance"][0](spark, SF).collect()
    }
    ras = _raster()
    src = min(ras, key=lambda c: (ras[c], c[0], c[1]))
    offs = TERRAIN._d8_offsets()
    dist = {src: 0}
    pq_ = [(0, src)]
    while pq_:
        d0, u = heapq.heappop(pq_)
        if d0 > dist[u]:
            continue
        for _, dx, dy, step_m in offs:
            v = (u[0] + dx, u[1] + dy)
            if v not in ras:
                continue
            w = math.floor(
                (step_m + 10.0 * abs(ras[v] - ras[u])) * 1.0e3 + 0.5
            )
            nd = d0 + w
            if nd < dist.get(v, 1 << 62):
                dist[v] = nd
                heapq.heappush(pq_, (nd, v))
    assert got == dist
    # K synchronous rounds ≥ Chebyshev diameter must have settled all cells
    assert len(got) == len(ras)


def test_rake_matches_python_replay(spark):
    got = defaultdict(dict)
    for r in Q.QUERIES["rake_keyphrases"][0](spark, SF).collect():
        got[r["doc_id"]][r["rk"]] = (r["phrase"], r["score_q6"])
    docs = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    stop = set(TEXT._RAKE_STOP)
    want = defaultdict(dict)
    for doc in docs:
        toks = [t for t in re.split(r"[^a-z0-9]+", doc["text"].lower()) if t]
        phrases, cur = [], []
        for t in toks:
            if t in stop:
                if cur:
                    phrases.append(cur)
                cur = []
            else:
                cur.append(t)
        if cur:
            phrases.append(cur)
        freq, deg = defaultdict(int), defaultdict(int)
        for ph in phrases:
            for w in ph:
                freq[w] += 1
                deg[w] += len(ph)
        scored = [
            (" ".join(ph), sum(deg[w] * 1000000 // freq[w] for w in ph))
            for ph in phrases
        ]
        scored.sort(key=lambda x: (-x[1], x[0]))
        for rk, (ph, sc) in enumerate(scored[: TEXT._RAKE_TOPK], 1):
            want[doc["doc_id"]][rk] = (ph, sc)
    assert dict(got) == dict(want)


def test_sprt_matches_python_walk(spark):
    got = {
        r["event_type"]: (
            r["n_total"], r["first_h1_cross"], r["first_h0_cross"],
            r["decision"],
        )
        for r in Q.QUERIES["sprt"][0](spark, SF).collect()
    }
    ev = pq.read_table(f"{SF}/events.parquet").to_pylist()
    by_type = defaultdict(list)
    for e in ev:
        by_type[e["event_type"]].append(e)
    want = {}
    for et, rows in by_type.items():
        rows.sort(key=lambda e: (e["ts"], e["event_id"]))
        llr, h1, h0 = 0, None, None
        for i, e in enumerate(rows, 1):
            llr += STATS._L1_Q9 if e["value"] > STATS._SPRT_THRESH else STATS._L0_Q9
            if llr >= STATS._A_Q9 and h1 is None:
                h1 = i
            if llr <= STATS._B_Q9 and h0 is None:
                h0 = i
        big = 1 << 62
        dec = (
            1 if (h1 or big) < (h0 or big)
            else (-1 if (h0 or big) < (h1 or big) else 0)
        )
        want[et] = (len(rows), h1, h0, dec)
    assert got == want


def test_json_stats_matches_python_replay(spark):
    got = {
        r["event_type"]: (
            r["n_events"], r["n_distinct_k"], r["sum_k"], r["min_k"],
            r["max_k"],
        )
        for r in Q.QUERIES["json_extract_stats"][0](spark, SF).collect()
    }
    ev = pq.read_table(f"{SF}/events.parquet").to_pylist()
    agg = defaultdict(list)
    for e in ev:
        agg[e["event_type"]].append(json.loads(e["props"])["k"])
    want = {
        et: (len(v), len(set(v)), sum(v), min(v), max(v))
        for et, v in agg.items()
    }
    assert got == want
